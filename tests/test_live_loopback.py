"""Live-network integration tier over a loopback HTTP server.

Mirrors the reference's integration tests without leaving the machine:
``src/it/java/.../tools/CrawlToolIT.java:9-27`` (a real crawl through a
real fetcher), ``urls/SimpleUrlLengthenerIT.java`` (live redirect
resolution), and the crawler-commons SimpleHttpFetcher behaviors the
reference wires in via ``fetcher/SimpleHttpFetcherBuilder.java`` —
real sockets, real redirects, real timeouts, and measured wall-clock
politeness spacing. The server is a stdlib ThreadingHTTPServer on
127.0.0.1:0; Spark's python workers hit it from executor tasks, so the
whole mapInPandas fetch path (pickled fetcher closure included) runs
exactly as it would against the open web.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from flink_crawler_spark.operators.fetch import http_fetch, urllib_fetcher
from flink_crawler_spark.operators.lengthen import (
    lengthen_urls_live,
    urllib_head_resolver,
)
from flink_crawler_spark.operators.robots import (
    check_urls_against_robots,
    parse_robots_rules,
    refresh_robots_cache,
)
from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.sources.fixtures import robots_table

ROBOTS_BODY = "User-agent: *\nDisallow: /private/\n"


def _page(title: str, links: list[str]) -> str:
    anchors = "\n".join(f'<a href="{u}">{u}</a>' for u in links)
    return f"<html><head><title>{title}</title></head><body>{anchors}</body></html>"


class _Site:
    """Tiny deterministic site; pages keyed by path, built per-port so
    anchor hrefs are absolute (the crawl loop normalizes relative links
    too, but absolute keeps the mock twin byte-identical)."""

    def __init__(self, base: str):
        self.base = base
        self.pages = {
            "/": _page("home 1.0", [base + "/a.html", base + "/b.html",
                                    base + "/private/secret.html"]),
            "/a.html": _page("a 1.0", [base + "/b.html"]),
            "/b.html": _page("b 1.0", [base + "/missing.html"]),
            "/private/secret.html": _page("secret 1.0", []),
        }


@pytest.fixture(scope="module")
def server():
    state = {"hits": [], "site": None}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _send(self, code, body=b"", ctype="text/html", location=None):
            self.send_response(code)
            if location:
                self.send_header("Location", location)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        def _route(self):
            state["hits"].append((self.path, time.time()))
            site = state["site"]
            base = site.base
            if self.path == "/robots.txt":
                return self._send(200, ROBOTS_BODY.encode(), "text/plain")
            if self.path == "/redir":
                return self._send(302, location=base + "/a.html")
            if self.path == "/short/x":
                return self._send(301, location=base + "/a.html")
            if self.path in ("/loop1", "/loop2"):
                other = "/loop2" if self.path == "/loop1" else "/loop1"
                return self._send(302, location=base + other)
            if self.path == "/err":
                return self._send(500, b"boom")
            if self.path == "/slow":
                time.sleep(1.5)
                return self._send(200, b"slow")
            if self.path == "/big":
                return self._send(200, b"x" * (256 * 1024), "application/octet-stream")
            if self.path == "/empty":
                return self._send(200, b"")
            page = site.pages.get(self.path)
            if page is None:
                return self._send(404, b"nope")
            return self._send(200, page.encode())

        do_GET = _route
        do_HEAD = _route

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    base = f"http://127.0.0.1:{httpd.server_port}"
    state["site"] = _Site(base)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield type("S", (), {"base": base, "hits": state["hits"],
                         "site": state["site"]})()
    httpd.shutdown()


def _frontier(spark, base, paths, fetch_time=1_700_000_000_000):
    host = base.split("//")[1]
    rows = [(base + p, host, 1.0, fetch_time) for p in paths]
    return spark.createDataFrame(rows, "url string, pld string, score double, fetch_time long")


def test_live_fetch_statuses_redirects_and_content(spark, server):
    fr = _frontier(spark, server.base,
                   ["/a.html", "/missing.html", "/redir", "/loop1", "/err"])
    out = {
        r["url"]: r.asDict()
        for r in http_fetch(fr, fetcher=urllib_fetcher(), now_ms=0).collect()
    }
    base = server.base
    assert out[base + "/a.html"]["status"] == "FETCHED"
    assert out[base + "/a.html"]["content"] == server.site.pages["/a.html"].encode()
    assert out[base + "/a.html"]["content_type"].startswith("text/html")
    assert out[base + "/missing.html"]["status"] == "HTTP_NOT_FOUND"
    # real 302 chased to the target; fetched_url records the landing URL
    assert out[base + "/redir"]["status"] == "FETCHED"
    assert out[base + "/redir"]["fetched_url"] == base + "/a.html"
    assert out[base + "/redir"]["content"] == server.site.pages["/a.html"].encode()
    assert out[base + "/loop1"]["status"] == "HTTP_TOO_MANY_REDIRECTS"
    assert out[base + "/err"]["status"] == "HTTP_SERVER_ERROR"


def test_live_fetch_socket_timeout_maps_to_ioexception(spark, server):
    fr = _frontier(spark, server.base, ["/slow"])
    (row,) = http_fetch(fr, fetcher=urllib_fetcher(timeout_s=0.3), now_ms=0).collect()
    assert row["status"] == "ERROR_IOEXCEPTION"


def test_live_fetch_politeness_wall_clock_spacing(spark, server):
    """Four same-domain URLs with a 400 ms interval: the server-side
    arrival clock must show >= ~interval between consecutive requests —
    politeness enforced by real sleeps, observed by the real peer."""
    del server.hits[:]
    fr = _frontier(spark, server.base,
                   ["/a.html", "/b.html", "/", "/private/secret.html"])
    http_fetch(
        fr, fetcher=urllib_fetcher(), now_ms=0, min_interval_ms=400
    ).collect()
    times = sorted(ts for _, ts in server.hits)
    assert len(times) == 4
    gaps = [b - a for a, b in zip(times, times[1:])]
    # Request STARTS are spaced >= 400 ms; server ARRIVAL times add
    # per-request jitter (accept/processing delay under parallel test
    # load), which can compress one observed gap while stretching its
    # neighbor. The jitter-robust invariants: the total span reflects
    # all three enforced sleeps, and no gap collapses toward zero
    # (which is what an unspaced burst produces).
    assert times[-1] - times[0] >= 1.0, gaps
    assert all(g >= 0.15 for g in gaps), gaps
    del server.hits[:]


def _live_rules(spark, base, now_ms=0):
    empty = spark.createDataFrame(
        [],
        "host_root string, disallow array<string>, allow array<string>, "
        "crawl_delay_ms long, sitemaps array<string>, fetch_status string, "
        "fetched_at long, expires_at long",
    )
    hosts = spark.createDataFrame([(base,)], ["host_root"])
    return refresh_robots_cache(
        empty, hosts, fetcher=urllib_fetcher(), now_ms=now_ms
    )


def test_live_robots_fetch_parse_and_block(spark, server):
    rules = _live_rules(spark, server.base)
    (r,) = rules.collect()
    assert r["fetch_status"] == "ok"
    assert "/private/" in r["disallow"]
    fr = _frontier(spark, server.base, ["/a.html", "/private/secret.html"])
    routed = {
        row["url"]: row["route"]
        for row in check_urls_against_robots(
            fr, rules.drop("fetch_status", "fetched_at", "expires_at")
        ).collect()
    }
    assert routed[server.base + "/a.html"] == "passed"
    assert routed[server.base + "/private/secret.html"] == "blocked"


def test_live_robots_missing_host_is_allow_all(spark, server):
    # a host whose /robots.txt 404s -> "missing" status, allow-all rules
    rules = _live_rules(spark, server.base)
    # the fixture server DOES serve robots.txt; hit a path-shifted root
    empty = rules.limit(0)
    hosts = spark.createDataFrame([(server.base + "/nosuch",)], ["host_root"])
    (r,) = refresh_robots_cache(
        empty, hosts, fetcher=urllib_fetcher(), now_ms=0
    ).collect()
    assert r["fetch_status"] == "missing"
    assert r["disallow"] == []


def test_live_lengthener_resolves_shortened_seed(spark, server):
    urls = spark.createDataFrame(
        [(server.base + "/short/x",), (server.base + "/a.html",)], ["url"]
    )
    out = {
        r["url"]
        for r in lengthen_urls_live(
            urls,
            resolver=urllib_head_resolver(),
            shortener_hosts=("127.0.0.1",),
        ).collect()
    }
    assert out == {server.base + "/a.html"}


def test_live_crawl_matches_mock_crawl_state(spark, server):
    """The CrawlToolIT analogue: a full crawl through the LIVE fetcher
    (real sockets end-to-end, robots fetched live) must land the same
    (url -> status) state table and the same parsed outlinks as the
    mock-join crawl over the identical page bytes."""
    base = server.base
    seeds = spark.createDataFrame([(base + "/", 1.0)], ["url", "score"])
    cfg = CrawlConfig(max_ticks=6, default_crawl_delay_ms=100, keep_parsed=True)

    live_rules = _live_rules(spark, base).drop(
        "fetch_status", "fetched_at", "expires_at"
    ).localCheckpoint(eager=True)
    live = crawl(
        spark,
        seeds,
        fetch_fn=lambda df, now_ms: http_fetch(
            df, fetcher=urllib_fetcher(), now_ms=now_ms
        ),
        robots_rules=live_rules,
        config=cfg,
    )

    pages = spark.createDataFrame(
        [(base + p, 1.0, html) for p, html in server.site.pages.items()],
        ["page_url", "page_score", "html"],
    )
    mock_rules = parse_robots_rules(
        robots_table(spark, {base + "/robots.txt": ROBOTS_BODY})
    )
    mock = crawl(spark, seeds, pages=pages, robots_rules=mock_rules, config=cfg)

    live_state = {r["url"]: r["status"] for r in live.crawl_state.collect()}
    mock_state = {r["url"]: r["status"] for r in mock.crawl_state.collect()}
    assert live_state == mock_state
    assert live_state[base + "/"] == "FETCHED"
    assert live_state[base + "/missing.html"] == "HTTP_NOT_FOUND"
    # robots-blocked page never fetched in either world
    assert live_state[base + "/private/secret.html"] not in ("FETCHED",)

    cols = ["url", "title", "parsed_text"]
    live_parsed = {tuple(r) for r in live.parsed.select(*cols).collect()}
    mock_parsed = {tuple(r) for r in mock.parsed.select(*cols).collect()}
    assert live_parsed == mock_parsed


def test_live_fetch_min_response_rate_aborts_slow_fetch(spark, server):
    """crawler-commons minResponseRate policy
    (fetcher/BaseHttpFetcherBuilder.java:30,66,128; ExceptionUtils.java:
    68-69): a fetch measured under the byte-rate floor aborts with
    ABORTED_SLOW_RESPONSE and drops its content; a fast fetch on the
    same run reports a real measured response_rate."""
    fr = _frontier(spark, server.base, ["/slow", "/a.html"])
    out = {
        r["url"].rsplit("/", 1)[1] or "root": r.asDict()
        for r in http_fetch(
            fr,
            fetcher=urllib_fetcher(),
            now_ms=0,
            min_response_rate=1000,  # /slow serves 4 bytes in ~1.5s => ~3 B/s
        ).collect()
    }
    assert out["slow"]["status"] == "ABORTED_SLOW_RESPONSE"
    assert out["slow"]["content"] is None
    assert out["a.html"]["status"] == "FETCHED"
    assert out["a.html"]["response_rate"] >= 1000


def test_cli_http_mode_live_crawl(spark, server, tmp_path):
    """CrawlTool parity for the live deployment: --http end-to-end
    through the argparse main() — seeds file in, real sockets in the
    fetch stage, state table out."""
    from flink_crawler_spark import cli

    base = server.base
    seeds = tmp_path / "seeds.txt"
    seeds.write_text(f"# live seeds\n{base}/\n")
    out = str(tmp_path / "state_http")
    rc = cli.main([
        "--seedurls", str(seeds),
        "--http",
        "--maxticks", "5",
        "--stateout", out,
    ])
    assert rc == 0
    st = {r["url"]: r["status"] for r in spark.read.parquet(out).collect()}
    assert st[base + "/"] == "FETCHED"
    assert st[base + "/a.html"] == "FETCHED"
    assert st[base + "/missing.html"] == "HTTP_NOT_FOUND"


def test_live_fetch_concurrent_domains_sequential_within(spark, server):
    """-fetcherspertask parity (SimpleHttpFetcherBuilder's connection
    pool): with 3 domain groups and a 600 ms per-domain interval, a
    3-worker pool overlaps the domains (server-observed span well under
    the sequential 3 x 600 ms floor) while spacing WITHIN each domain
    still holds."""
    del server.hits[:]
    base = server.base
    rows = [
        (base + p, pld, 1.0, 1_700_000_000_000)
        for pld, paths in {
            "d1.example": ["/a.html?d=1", "/b.html?d=1"],
            "d2.example": ["/a.html?d=2", "/b.html?d=2"],
            "d3.example": ["/a.html?d=3", "/b.html?d=3"],
        }.items()
        for p in paths
    ]
    fr = spark.createDataFrame(
        rows, "url string, pld string, score double, fetch_time long"
    )
    out = http_fetch(
        fr,
        fetcher=urllib_fetcher(),
        now_ms=0,
        min_interval_ms=600,
        fetchers_per_task=3,
    ).collect()
    assert len(out) == 6
    # group hits by the ?d= marker (one per fake domain)
    per = {}
    for path, ts in server.hits:
        per.setdefault(path.split("d=")[-1], []).append(ts)
    assert len(per) == 3
    for d, times in per.items():
        times.sort()
        assert len(times) == 2
        assert times[1] - times[0] >= 0.5, (d, times)  # within-domain spacing
    all_ts = sorted(ts for _, ts in server.hits)
    # sequential draining would need >= 3 x 600 ms; overlap cuts it
    assert all_ts[-1] - all_ts[0] < 1.5, all_ts[-1] - all_ts[0]
    del server.hits[:]


def test_live_fetch_capped_read_truncates_big_body(spark, server):
    """r6 ADVICE (medium): the body must be capped DURING the transfer
    (crawler-commons setDefaultMaxContentSize), not post-hoc — the raw
    fetcher may return at most cap+1 bytes (the truncation sentinel) and
    http_fetch slices to the cap and flags the truncation."""
    cap = 1024
    raw = urllib_fetcher(max_content_size=cap)(server.base + "/big")
    assert raw[0] == 200
    assert len(raw[1]) == cap + 1  # capped mid-read, sentinel byte kept

    fr = _frontier(spark, server.base, ["/big", "/a.html"])
    out = {
        r["url"]: r.asDict()
        for r in http_fetch(
            fr, fetcher=urllib_fetcher(max_content_size=cap),
            now_ms=0, max_content_size=cap,
        ).collect()
    }
    big = out[server.base + "/big"]
    assert big["status"] == "FETCHED"
    assert len(big["content"]) == cap
    assert big["headers"]["x-truncated"] == ["length"]
    small = out[server.base + "/a.html"]
    assert "x-truncated" not in small["headers"]


def test_live_fetch_empty_body_not_aborted_slow(spark, server):
    """r6 ADVICE (low): a legitimate zero-byte 200 body measures no
    transfer rate and must NOT be classified ABORTED_SLOW_RESPONSE."""
    fr = _frontier(spark, server.base, ["/empty"])
    (row,) = http_fetch(
        fr, fetcher=urllib_fetcher(), now_ms=0, min_response_rate=1000
    ).collect()
    assert row["status"] == "FETCHED"
    assert not row["content"]  # empty body surfaces as null content

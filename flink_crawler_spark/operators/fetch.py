"""Fetch stage: mock (web-graph join) and real (mapInPandas) fetchers.

Reference: ``functions/FetchUrlsFunction.java:28-226`` — async HTTP GET
with per-domain politeness (``:88-97``: too-soon URLs exit as
SKIPPED_CRAWLDELAY carrying the allowed time) and HTTP-status ->
FetchStatus mapping (``utils/ExceptionUtils.java:246-330``);
``src/test/.../fetcher/WebGraphFetcher.java:22-85`` — the mock that
serves rendered pages from the synthetic graph (absent URL -> 404).

Spark-first:
  * Mock fetch = LEFT JOIN frontier x rendered pages. Hit -> FETCHED +
    content; miss -> HTTP_NOT_FOUND. The join *is* the fetch — fully
    relational, duckdb-checkable.
  * Politeness = within one tick each domain may fetch its URLs only
    10 s apart (crawl delay); URLs beyond the per-tick window exit as
    SKIPPED_CRAWLDELAY with next_fetch_time set — same decision the
    reference takes per record, computed set-at-a-time with one window
    rank per pld.
  * Real fetch (plumbing; network-gated) = repartition("pld") then
    mapInPandas: sequential within a domain group, concurrent across
    groups — the same politeness guarantee the reference gets from
    keyBy(pld).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import FETCH_RESULT_SCHEMA


def politeness_split(
    frontier: DataFrame,
    *,
    now_ms: int,
    tick_ms: int = 10_000,
    delay_col: str = "crawl_delay_ms",
) -> DataFrame:
    """Assign per-domain fetch slots; overflowing URLs get SKIPPED_CRAWLDELAY.

    Within a tick of length ``tick_ms`` a domain with crawl delay d can
    fetch ``floor(tick/d)+1`` URLs (slot i fires at ``now + i*d``). The
    rest leave as SKIPPED_CRAWLDELAY with ``next_fetch_time`` = their
    slot time — they re-enter the frontier on a later tick, exactly the
    reference's per-record "too soon -> skip with allowed time"
    (FetchUrlsFunction.java:88-97,162-167).

    Adds ``fetch_time`` (slot) and ``route`` in {'fetch','crawldelay'}.
    """
    w = Window.partitionBy("pld").orderBy(F.col("score").desc(), F.col("url").asc())
    slot = (F.row_number().over(w) - 1).cast("long")
    delay = F.coalesce(F.col(delay_col), F.lit(10_000)).cast("long")
    fetch_time = F.lit(now_ms) + slot * delay
    return frontier.withColumn("fetch_time", fetch_time).withColumn(
        "route",
        F.when(F.col("fetch_time") < F.lit(now_ms) + F.lit(tick_ms), "fetch").otherwise(
            "crawldelay"
        ),
    )


def crawldelay_status_updates(split: DataFrame) -> DataFrame:
    """SKIPPED_CRAWLDELAY observations for over-quota URLs."""
    # per-tick call: two py4j round-trips instead of ~12 (r13, guide §1.2)
    return split.where("route = 'crawldelay'").selectExpr(
        "url",
        "pld",
        "'SKIPPED_CRAWLDELAY' AS status",
        "fetch_time AS status_time",
        "score",
        "fetch_time AS next_fetch_time",
    )


def mock_fetch(
    frontier: DataFrame,
    pages: DataFrame,
    *,
    now_ms: int,
    refetch_interval_ms: int = 86_400_000,
) -> DataFrame:
    """Fetch by joining the rendered-pages table (WebGraphFetcher analogue).

    ``pages``: (page_url, page_score, html). Returns FETCH_RESULT_SCHEMA
    rows: FETCHED with content on hit, HTTP_NOT_FOUND on miss.

    Optional fixture columns (both default to the UTF-8 html rendering):
    ``content`` (binary) serves raw bytes as-is — how charset tests put
    a Latin-1/Shift-JIS page on the wire — and ``content_type`` carries
    a per-page header (e.g. 'text/html; charset=ISO-8859-1').
    """
    # r13 (guide §1.2): this runs every crawl tick — build the output
    # projection as ONE selectExpr call (SQL strings parsed JVM-side)
    # instead of ~40 py4j Column round-trips per tick. Bare names resolve
    # unambiguously after the join only while the two sides share no
    # column name (pages carries page_url / page_score /
    # html|content|content_type) — checked, not assumed.
    shared = set(frontier.columns) & set(pages.columns)
    if shared:
        raise ValueError(f"pages shares column names with the frontier: {sorted(shared)}")
    content_sql = (
        "content" if "content" in pages.columns else "encode(html, 'UTF-8')"
    )
    ctype_sql = (
        "content_type" if "content_type" in pages.columns else "'text/html'"
    )
    j = frontier.join(pages, frontier["url"] == pages["page_url"], "left")
    return j.selectExpr(
        "url",
        "pld",
        "CASE WHEN page_url IS NOT NULL THEN 'FETCHED' ELSE 'HTTP_NOT_FOUND' END AS status",
        f"coalesce(fetch_time, CAST({int(now_ms)} AS BIGINT)) AS status_time",
        "url AS fetched_url",
        f"map('content-type', array({ctype_sql})) AS headers",
        f"CASE WHEN page_url IS NOT NULL THEN {content_sql} END AS content",
        f"CASE WHEN page_url IS NOT NULL THEN {ctype_sql} END AS content_type",
        "CAST(100000 AS INT) AS response_rate",
        f"coalesce(fetch_time, CAST({int(now_ms)} AS BIGINT))"
        f" + CAST({int(refetch_interval_ms)} AS BIGINT) AS next_fetch_time",
    )


def mime_filter(results: DataFrame, allowed: tuple[str, ...] = ("text/html",)) -> DataFrame:
    """-htmlonly (CrawlTool.java:94-101): fetched pages with a mime type
    outside the allowed set become ABORTED_INVALID_MIMETYPE and their
    content is dropped before the (expensive) parse stage. Compares the
    base type only — 'text/html; charset=ISO-8859-1' is still html."""
    base = F.trim(F.split(F.coalesce(F.col("content_type"), F.lit("")), ";")[0])
    bad = (F.col("status") == "FETCHED") & ~base.isin(*allowed)
    flagged = results.withColumn("__bad_mime", bad)
    return flagged.withColumn(
        "status", F.when(F.col("__bad_mime"), "ABORTED_INVALID_MIMETYPE").otherwise(F.col("status"))
    ).withColumn(
        "content",
        F.when(F.col("__bad_mime"), F.lit(None).cast("binary")).otherwise(F.col("content")),
    ).drop("__bad_mime")


def fetch_status_updates(results: DataFrame, *, error_retry_ms: int = 86_400_000) -> DataFrame:
    """Crawl-state observations from fetch results (status loop-back)."""
    # per-tick call: one py4j round-trip instead of ~10 (r13, guide §1.2)
    return results.selectExpr(
        "url",
        "pld",
        "status",
        "status_time",
        "CAST(0.0 AS DOUBLE) AS score",
        "next_fetch_time",
    )


# ----------------------------------------------------------------------
# Real-HTTP plumbing (network-gated; the container has no network, so the
# fetcher callable is injected — BaseHttpFetcherBuilder analogue)
# ----------------------------------------------------------------------


def urllib_fetcher(
    timeout_s: float = 10.0,
    agent: str = "flink-crawler",
    max_content_size: int | None = None,
) -> Callable[[str], tuple[int, bytes, str, str | None]]:
    """Production fetcher slot for ``http_fetch``: a plain-socket
    stdlib GET that does NOT follow redirects — ``http_fetch`` owns the
    redirect chase (and its TOO_MANY_REDIRECTS cap), mirroring how the
    reference wires crawler-commons' SimpleHttpFetcher through
    ``fetcher/SimpleHttpFetcherBuilder.java:14-21`` with redirect
    handling in the fetcher loop. Returns
    ``(status_code, body, content_type, absolute_location_or_None)``;
    socket timeouts/connection errors raise and map to
    ERROR_IOEXCEPTION in ``http_fetch`` (the
    ``utils/ExceptionUtils.java`` IOException bucket).

    ``max_content_size`` caps the body DURING the read (64 KiB chunks,
    stop after cap+1 bytes) the way crawler-commons'
    setDefaultMaxContentSize truncates in-flight — a multi-GB live
    response never lands whole in executor memory; the one sentinel
    byte past the cap lets ``http_fetch`` detect truncation."""

    def _read_capped(resp) -> bytes:
        if max_content_size is None:
            return resp.read()
        budget = max_content_size + 1  # sentinel byte marks truncation
        chunks: list[bytes] = []
        while budget > 0:
            chunk = resp.read(min(budget, 1 << 16))
            if not chunk:
                break
            chunks.append(chunk)
            budget -= len(chunk)
        return b"".join(chunks)

    def fetch(url: str) -> tuple[int, bytes, str, str | None]:
        import urllib.error
        import urllib.request
        from urllib.parse import urljoin

        class _NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, req, fp, code, msg, headers, newurl):
                return None

        opener = urllib.request.build_opener(_NoRedirect)
        req = urllib.request.Request(url, headers={"User-Agent": agent})
        try:
            with opener.open(req, timeout=timeout_s) as resp:
                ctype = resp.headers.get("Content-Type", "") or ""
                return resp.status, _read_capped(resp), ctype, None
        except urllib.error.HTTPError as e:
            loc = e.headers.get("Location") if e.headers else None
            ctype = (e.headers.get("Content-Type", "") if e.headers else "") or ""
            body = b""
            try:
                body = e.read()
            except Exception:
                pass
            return e.code, body, ctype, urljoin(url, loc) if loc else None

    return fetch


def live_http_fetch_fn(
    *,
    timeout_s: float = 100.0,
    agent: str = "flink-crawler",
    max_content_size: int = 1 << 20,
    min_interval_ms: int = 0,
    min_response_rate: int = 0,
    fetchers_per_task: int = 10,
):
    """BaseHttpFetcherBuilder analogue
    (``fetcher/BaseHttpFetcherBuilder.java``, ``SimpleHttpFetcherBuilder
    .java:14-21``): bundle the live-HTTP policy knobs into a
    ``fetch_fn(to_fetch, now_ms=...)`` the crawl loop (and the CLI's
    ``--http`` mode) plugs straight into the fetcher seam."""
    fetcher = urllib_fetcher(timeout_s, agent, max_content_size=max_content_size)

    def fetch_fn(to_fetch: DataFrame, *, now_ms: int) -> DataFrame:
        return http_fetch(
            to_fetch,
            fetcher=fetcher,
            now_ms=now_ms,
            max_content_size=max_content_size,
            min_interval_ms=min_interval_ms,
            min_response_rate=min_response_rate,
            fetchers_per_task=fetchers_per_task,
        )

    return fetch_fn


def http_fetch(
    frontier: DataFrame,
    *,
    fetcher: Callable[[str], tuple[int, bytes, str]],
    now_ms: int,
    max_content_size: int = 1 << 20,
    min_interval_ms: int = 0,
    min_response_rate: int = 0,
    fetchers_per_task: int = 1,
) -> DataFrame:
    """Distributed HTTP fetch: one pld-group per task, sequential within.

    ``repartition("pld")`` + sort within partitions gives every task
    whole domains in slot order — politeness holds under parallelism for
    the same reason the reference's keyBy(pld) makes it hold
    (SURVEY §7 "hard parts").

    ``fetcher(url) -> (http_status, content, content_type)`` — or a
    4-tuple ending in a redirect Location — is injected (tests pass a
    dict-backed fake; production passes urllib/requests). Redirects are
    followed up to ``max_redirects`` (SimpleHttpFetcher behavior); deep
    chains map to HTTP_TOO_MANY_REDIRECTS
    (utils/ExceptionUtils.java:246-330 status mapping).

    ``min_interval_ms`` > 0 enforces wall-clock politeness INSIDE the
    task: consecutive requests to the same pld sleep out the remainder
    of the interval (crawler-commons SimpleHttpFetcher's
    min-response-rate/crawl-delay spacing). Because the repartition
    confines each pld to exactly one task, the per-task clock IS the
    global per-domain clock — no cross-executor coordination needed,
    the same argument the reference's keyBy(pld) politeness makes.

    ``min_response_rate`` > 0 (bytes/sec) aborts fetches that measured
    slower: status ABORTED_SLOW_RESPONSE, content dropped — the
    crawler-commons minResponseRate policy the reference configures via
    ``fetcher/BaseHttpFetcherBuilder.java:30,66,128`` and maps through
    ``utils/ExceptionUtils.java:68-69``.

    ``fetchers_per_task`` > 1 fetches up to that many DOMAINS
    concurrently per task via a thread pool — always sequential (and
    interval-spaced) WITHIN a domain, so politeness is untouched while
    cross-domain latency overlaps. This is the reference's
    ``-fetcherspertask`` / maxSimultaneousRequests connection pool
    (``fetcher/SimpleHttpFetcherBuilder.java:14-21``,
    ``CrawlToolOptions`` -fetcherspertask).
    """
    cols = ["url", "pld", "score", "fetch_time"]
    max_redirects = 5

    def fetch_one(url):
        fetched_url = url
        for _ in range(max_redirects + 1):
            res = fetcher(fetched_url)
            code, content, ctype = res[0], res[1], res[2]
            location = res[3] if len(res) > 3 else None
            if code in (301, 302, 303, 307, 308):
                if not location:
                    return "HTTP_REDIRECTION_ERROR", None, None, fetched_url
                fetched_url = location
                continue
            if code == 200:
                return "FETCHED", content, ctype, fetched_url
            if code == 404:
                return "HTTP_NOT_FOUND", None, None, fetched_url
            status = "HTTP_SERVER_ERROR" if code >= 500 else "HTTP_CLIENT_ERROR"
            return status, None, None, fetched_url
        return "HTTP_TOO_MANY_REDIRECTS", None, None, fetched_url

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time
        from concurrent.futures import ThreadPoolExecutor

        # pld -> last request start; each pld lives in exactly one
        # group worker, so no lock is needed even under the pool
        last_at: dict[str, float] = {}

        def fetch_row(row) -> dict:
            if min_interval_ms > 0:
                prev = last_at.get(row.pld)
                if prev is not None:
                    wait = prev + min_interval_ms / 1000.0 - time.time()
                    if wait > 0:
                        time.sleep(wait)
                last_at[row.pld] = time.time()
            t0 = time.time()
            try:
                status, content, ctype, fetched_url = fetch_one(row.url)
            except Exception:
                status, content, ctype, fetched_url = "ERROR_IOEXCEPTION", None, None, row.url
            elapsed = max(time.time() - t0, 1e-6)
            rate = int(len(content) / elapsed) if content else 0
            # crawler-commons aborts only a measured-SLOW transfer; a
            # legitimate zero-byte 200 body transfers nothing measurable
            # and must not be classified ABORTED_SLOW_RESPONSE.
            if (
                min_response_rate > 0
                and status == "FETCHED"
                and content
                and rate < min_response_rate
            ):
                status, content = "ABORTED_SLOW_RESPONSE", None
            headers = {"content-type": [ctype or ""]}
            if content is not None and len(content) > max_content_size:
                # capped mid-read by the fetcher (sentinel byte past the
                # cap) or post-sliced below: record the truncation the
                # way FetchedResult carries it.
                headers["x-truncated"] = ["length"]
            return {
                "url": row.url,
                "pld": row.pld,
                "status": status,
                "status_time": int(time.time() * 1000),
                "fetched_url": fetched_url,
                "headers": headers,
                "content": content[:max_content_size] if content else None,
                "content_type": ctype,
                "response_rate": rate,
                "next_fetch_time": int(row.fetch_time) + 86_400_000,
            }

        pool = (
            ThreadPoolExecutor(max_workers=fetchers_per_task)
            if fetchers_per_task > 1
            else None
        )
        try:
            for pdf in batches:
                pdf = pdf.sort_values(["pld", "fetch_time"])
                if pool is None:
                    out = [fetch_row(r) for r in pdf.itertuples(index=False)]
                else:
                    # one worker job per DOMAIN group: sequential within the
                    # domain (politeness), overlapped across domains
                    groups = [
                        list(g.itertuples(index=False))
                        for _, g in pdf.groupby("pld", sort=False)
                    ]

                    def drain(rows: list) -> list[dict]:
                        return [fetch_row(r) for r in rows]

                    out = [d for res in pool.map(drain, groups) for d in res]
                yield pd.DataFrame(out, columns=[f.name for f in FETCH_RESULT_SCHEMA.fields])
        finally:
            # reused long-lived Python workers would otherwise keep up to
            # fetchers_per_task idle threads alive until GC
            if pool is not None:
                pool.shutdown(wait=False)

    return (
        frontier.select(*cols)
        .repartition(F.col("pld"))
        .sortWithinPartitions("pld", "fetch_time")
        .mapInPandas(run, FETCH_RESULT_SCHEMA)
    )

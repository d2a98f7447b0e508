"""CrawlTool CLI — argparse mirror of the reference's launcher.

Reference: ``tools/CrawlTool.java:37-122`` + ``tools/CrawlToolOptions.java:33-143``.
Same flags where they make sense on Spark (those that exist only because
of Flink runtime mechanics — ``-fetcherspertask``, ``-checkpointdir`` for
iteration state — are subsumed by Spark configs / the state table).

The mock-service tables (pages/robots/sitemaps/redirects) are parquet
paths; omit them for a no-robots crawl of just the pages table. A real
HTTP deployment swaps ``--pages`` for the ``http_fetch`` stage.

Run:  python -m flink_crawler_spark.cli --seedurls seeds.txt \\
          --pages pages.parquet --textcontentfile out/text \\
          --warccontentpath out/warc --stateout out/state
"""

from __future__ import annotations

import argparse
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="flink-crawler-spark",
        description="PySpark-native focused crawler (flink-crawler capability parity)",
    )
    # reference flags (CrawlToolOptions.java:33-143)
    p.add_argument("--seedurls", required=True, help="seed URL text file (# comments ok)")
    p.add_argument("--agent", default="flink-crawler", help="user agent name")
    p.add_argument("--singledomain", default=None, help="restrict crawl to this domain")
    p.add_argument("--forcecrawldelay", type=int, default=None, help="crawl delay ms (overrides robots)")
    p.add_argument("--defaultcrawldelay", type=int, default=10_000, help="crawl delay ms when robots has none")
    p.add_argument("--maxoutlinks", type=int, default=50, help="max outlinks kept per page")
    p.add_argument("--maxduration", type=float, default=300.0, help="max crawl wall-clock seconds")
    p.add_argument("--parallelism", type=int, default=None, help="local cores (default: all)")
    p.add_argument("--textcontentfile", default=None, help="dir for url\\ttext output")
    p.add_argument("--warccontentpath", default=None, help="dir for WARC output")
    # spark-engine specifics
    p.add_argument("--pages", default=None, help="rendered-pages parquet (page_url, page_score, html)")
    p.add_argument(
        "--commoncrawl", default=None, metavar="DIR",
        help="fetch from a CommonCrawl-style archive instead of --pages: "
             "DIR holds cdx.parquet plus the WARC segment files "
             "(reference: CrawlTool -commoncrawl)",
    )
    p.add_argument(
        "--http", action="store_true",
        help="fetch over live HTTP (urllib; BaseHttpFetcherBuilder analogue) "
             "instead of --pages / --commoncrawl",
    )
    p.add_argument(
        "--minresponserate", type=int, default=0,
        help="abort fetches measured under this bytes/sec "
             "(crawler-commons minResponseRate; 0 = off)",
    )
    p.add_argument(
        "--cachedir", default=None,
        help="executor-local read-through segment cache for --commoncrawl "
             "(reference: -cachedir / SegmentCache)",
    )
    p.add_argument(
        "--s3endpoint", default=None, metavar="URL",
        help="custom S3 endpoint (path-style, like fs.s3a.endpoint) for "
             "s3a:// --seedurls/--commoncrawl paths; default = AWS "
             "virtual-hosted URLs (reference: S3Utils / SeedUrlSource S3 mode)",
    )
    p.add_argument("--robots", default=None, help="robots parquet (robots_url, body)")
    p.add_argument("--sitemaps", default=None, help="sitemaps parquet (sitemap_url, entry_url)")
    p.add_argument("--redirects", default=None, help="redirects parquet (short_url, long_url)")
    p.add_argument("--stateout", default=None, help="dir to write the final crawl_state parquet")
    p.add_argument(
        "--checkpointdir", default=None,
        help="durable per-tick state dir; rerun with the same dir to resume",
    )
    p.add_argument("--maxticks", type=int, default=10, help="max crawl-loop iterations")
    p.add_argument("--htmlonly", action="store_true", help="only parse text/html pages")
    p.add_argument("--minfetchscore", type=float, default=0.0, help="focused-crawl score threshold")
    p.add_argument(
        "--parser", choices=("regex", "tree"), default="regex",
        help="page parser slot: codegen regex fast path or HTML tree parser",
    )
    p.add_argument(
        "--nolengthen", action="store_true",
        help="skip URL-shortener expansion even if --redirects is given",
    )
    p.add_argument(
        "--maxcontentsize", type=int, default=1 << 20,
        help="truncate fetched page bodies to this many bytes",
    )
    p.add_argument(
        "--timeout", type=float, default=100.0,
        help="per-fetch timeout seconds (http mode; mock join ignores)",
    )
    p.add_argument(
        "--fetcherspertask", type=int, default=10,
        help="concurrent fetch threads per task (http mode)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from flink_crawler_spark.operators.robots import parse_robots_rules
    from flink_crawler_spark.operators.warc import build_warc_records, warc_record_expr  # noqa: F401
    from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
    from flink_crawler_spark.session import get_spark
    from flink_crawler_spark.sources.seeds import seeds_from_text

    spark = get_spark("crawl-tool", cpus=args.parallelism)
    spark.sparkContext.setLogLevel("ERROR")

    from flink_crawler_spark.operators.commoncrawl import is_s3_path, s3_fetch_object

    # s3a:// seed lists: the seed file is one tiny driver-side object
    # (SeedUrlSource.java:184-248 reads it via the SDK); fetch it through
    # the HTTPS seam and read the local copy
    seed_path = args.seedurls
    if is_s3_path(seed_path):
        seed_path = s3_fetch_object(
            seed_path, endpoint=args.s3endpoint, cache_dir=args.cachedir
        )
    seeds = seeds_from_text(spark, seed_path)

    n_modes = sum(x is not None and x is not False for x in (args.pages, args.commoncrawl, args.http or None))
    if n_modes != 1:
        raise SystemExit("exactly one of --pages / --commoncrawl / --http is required")
    pages = fetch_fn = None
    if args.http:
        from flink_crawler_spark.operators.fetch import live_http_fetch_fn

        fetch_fn = live_http_fetch_fn(
            timeout_s=args.timeout,
            agent=args.agent,
            max_content_size=args.maxcontentsize,
            min_response_rate=args.minresponserate,
            fetchers_per_task=args.fetcherspertask,
        )
    elif args.commoncrawl is not None:
        import os as _os

        from flink_crawler_spark.operators.commoncrawl import commoncrawl_fetch_fn

        if is_s3_path(args.commoncrawl):
            # cdx.parquet is the one whole-object read; segments stream
            # through the ranged-GET seam inside commoncrawl_fetch_fn
            cdx_local = s3_fetch_object(
                args.commoncrawl.rstrip("/") + "/cdx.parquet",
                endpoint=args.s3endpoint,
                cache_dir=args.cachedir,
            )
            cdx = spark.read.parquet(cdx_local)
        else:
            cdx = spark.read.parquet(_os.path.join(args.commoncrawl, "cdx.parquet"))
        fetch_fn = commoncrawl_fetch_fn(
            cdx, args.commoncrawl, cache_dir=args.cachedir, s3_endpoint=args.s3endpoint
        )
    else:
        pages = spark.read.parquet(args.pages)
    robots_rules = (
        parse_robots_rules(spark.read.parquet(args.robots), agent=args.agent)
        if args.robots
        else None
    )
    sitemap_entries = spark.read.parquet(args.sitemaps) if args.sitemaps else None
    redirects = (
        spark.read.parquet(args.redirects)
        if args.redirects and not args.nolengthen
        else None
    )

    cfg = CrawlConfig(
        max_ticks=args.maxticks,
        max_duration_sec=args.maxduration,
        min_fetch_score=args.minfetchscore,
        default_crawl_delay_ms=args.defaultcrawldelay,
        force_crawl_delay_ms=args.forcecrawldelay,
        max_outlinks=args.maxoutlinks,
        single_domain=args.singledomain,
        html_only=args.htmlonly,
        parser=args.parser,
        trace=False,
        state_dir=args.checkpointdir,
        max_content_size=args.maxcontentsize,
        # content sinks need the accumulated parse output; without this a
        # >50-tick crawl auto-enables compaction, keep_parsed defaults
        # off, res.parsed is None, and the explicitly requested sinks
        # below would be skipped silently
        keep_parsed=bool(args.textcontentfile or args.warccontentpath) or None,
    )
    t0 = time.time()
    res = crawl(
        spark,
        seeds,
        pages=pages,
        fetch_fn=fetch_fn,
        robots_rules=robots_rules,
        sitemap_entries=sitemap_entries,
        redirects=redirects,
        config=cfg,
    )

    from pyspark.sql import functions as F

    counts = {
        r["status"]: r["n"]
        for r in res.crawl_state.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(f"crawl finished: {res.ticks} ticks, {time.time()-t0:.1f}s, status counts: {counts}")

    if args.stateout:
        res.crawl_state.write.mode("overwrite").parquet(args.stateout)
        print(f"crawl_state -> {args.stateout}")
    if args.textcontentfile and res.parsed is not None:
        # W3 text sink (CTB:455-463): url \t text
        from flink_crawler_spark.operators.parse import tsv_output

        tsv_output(res.parsed).write.mode("overwrite").text(args.textcontentfile)
        print(f"text content -> {args.textcontentfile}")
    if args.warccontentpath and res.parsed is not None:
        # W1 WARC sink: re-render fetched pages' content from parsed rows
        from flink_crawler_spark.operators.warc import write_warc

        now_ms = int(time.time() * 1000)
        fetched = res.parsed.select(
            "url",
            F.lit(now_ms).cast("long").alias("status_time"),
            F.lit("FETCHED").alias("status"),
            F.encode(F.col("parsed_text"), "UTF-8").alias("content"),
            F.lit("text/plain").alias("content_type"),
        )
        write_warc(
            build_warc_records(fetched), args.warccontentpath, agent=args.agent,
            timestamp_ms=now_ms,
        )
        print(f"warc -> {args.warccontentpath}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

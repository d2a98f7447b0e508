"""The crawl engine: a driver-side micro-batch loop over the URL-DB state.

This is the Spark-first re-architecture of the reference's whole topology
(``topology/CrawlTopologyBuilder.java:250-466``). Flink runs ONE
always-on streaming job with two cyclic feedback edges
(``IterativeStream``); Spark has no stream cycles, so the iteration
moves into the driver (SURVEY §7): each tick is a pure batch dataflow
over the persisted ``crawl_state`` DataFrame, and the feedback edge is
the merge of the tick's updates back into it.

    tick:  frontier  = select_frontier(crawl_state)        # §2.5/2.6
           routed    = robots check (broadcast rules join)  # A1/F2/F3
           split     = politeness slots per pld             # A2/J4
           results   = fetch (mock join | mapInPandas HTTP) # A2
           parsed    = parse + 4 outputs                    # U1
           sitemapped= sitemap entries join                 # U2
           updates   = status ∪ blocked ∪ crawldelay ∪ cleaned outlinks
           crawl_state = backend.advance(crawl_state, updates)  # O2/§2.5

The loop holds only that dataflow. Where the state lives — in memory,
or in the durable bucketed state log named by ``state_table`` or
``state_dir`` — is the state backend's business
(``plans/state_backend.py``), picked once per crawl from those
``CrawlConfig`` fields: it resumes and seeds the state, merges and
persists each tick, and owns the two rules in which the backends differ
(when the tick's caches are consumed, and whether the per-tick status
counters arrive the same tick or one tick in arrears).

Termination (``config/CrawlTerminator`` analogue): empty frontier, no
UNFETCHED row left, max ticks, or wall-clock budget.

The per-operator URL trace mirrors the reference's test oracle
(``utils/UrlLogger`` + assertUrlLoggedBy,
``src/test/.../topology/CrawlTopologyTest.java:140-145``) as a
DataFrame: (tick, operator, url).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import (
    is_valid_url_col,
    normalize_url_lite_col,
    pld_col,
    pld_expr,
)
from ..operators.fetch import (
    crawldelay_status_updates,
    fetch_status_updates,
    mime_filter,
    mock_fetch,
    politeness_split,
)
from ..operators.frontier import select_frontier
from ..operators.lengthen import lengthen_urls
from ..operators.merge import OBS_COLS, merge_crawl_state
from ..operators.parse import (
    PageScorer,
    all_equal_scorer,
    domain_score_output,
    outlink_output,
    parse_pages,
    parse_sitemaps,
    parsed_output,
)
from ..operators.robots import (
    blocked_status_updates,
    check_urls_against_robots,
    robots_sitemap_urls,
)
from .state_backend import state_backend


@dataclass
class CrawlConfig:
    """Mirror of the CLI surface (``tools/CrawlToolOptions.java:33-143``)."""

    max_ticks: int = 10
    max_duration_sec: float = 300.0
    max_queue_size: int | None = 10_000  # CTB:98 FetchQueue capacity; None = unbounded (skips the global top-k stage)
    max_per_domain: int | None = 100  # UrlDBFunction.java:54 MAX_IN_FLIGHT_URLS; None = uncapped (skips the per-pld window)
    min_fetch_score: float = 0.0  # focused-crawl threshold
    default_crawl_delay_ms: int = 10_000  # CTB:93
    force_crawl_delay_ms: int | None = None
    tick_ms: int = 100_000  # politeness window per tick
    refetch_interval_ms: int = 365 * 86_400_000  # effectively fetch-once
    refetch: bool = False  # re-admit FETCHED rows whose next_fetch_time
    # arrived (the reference's continuous re-crawl: UrlDBFunction timers
    # re-emit tracked URLs when due). Off = FetchQueue's UNFETCHED-only
    # admission; on, termination also waits for refetches due within the
    # remaining tick horizon.
    max_outlinks: int = 50  # -maxoutlinks
    single_domain: str | None = None  # -singledomain (PLD-restricted crawl)
    html_only: bool = False  # -htmlonly (mime filter before parse)
    domain_score_budget: int | None = None  # focused feedback: per-tick URL budget
    domain_score_window: int = 10  # G1 moving-average window size
    max_content_size: int = 1 << 20  # -maxcontentsize (body truncation)
    parser: str = "regex"  # BasePageParser slot: "regex" (codegen) | "tree" (HTML parser)
    # Shuffle/exchange partition count scoped to the loop (None = leave
    # the session's). A bounded replay at default parallelism pays
    # (cores x exchanges x ticks) of near-empty-task scheduling — the
    # same floor the stream queries measured (SCALE.md r6 addendum);
    # sizing this to the frontier batch cut crawl_reachability 15.1 ->
    # 9.6 s at sf0.1. A production crawl sizes it to its cluster.
    shuffle_partitions: int | None = None
    trace: bool = True  # UrlLogger analogue
    collect_stats: bool = True  # per-tick status counts (df.observe — rides the tick job)
    # Durable state: these fields pick the state backend, once per crawl
    # (plans/state_backend.py::state_backend). Neither: in memory, no
    # resume. Either one: the URL DB is a state log bucketed by url
    # (operators/state_table.py), so the tick merge is a bucket-local
    # sort-merge join whose ONLY Exchange is the small per-tick delta's,
    # instead of a union re-aggregation that re-shuffles the ENTIRE state
    # every tick (tens of TB per tick at the reference's 100 B-link
    # design scale, UrlDBFunction.java:94-139). A tick writes ONE small
    # delta directory (O(delta)) and commits a marker file; every
    # state_log_every ticks (None = 4) compaction folds the deltas into a
    # new base, amortizing the full rewrite 1/N. A crawl resumes from the
    # last commit marker, in a new process too. Its status counters ride
    # the next tick's frontier scan, so stats entries are finalized one
    # tick in arrears. state_dir is the log's root directory (the CLI's
    # --checkpointdir); state_table=NAME roots it at <warehouse>/NAME.
    state_dir: str | None = None
    state_table: str | None = None  # exclusive with state_dir
    state_buckets: int = 64  # physical layout constant — size for END state
    state_log_every: int | None = None
    # Long-crawl lineage bounding. The loop accumulates per-tick trace /
    # parsed / domain-score frames; left lazy, each holds a reference to
    # that tick's checkpointed state (or, with a durable state, to a
    # base that a later compaction sweeps away), so a
    # 1,000-tick continuous crawl — the reference's operating mode,
    # CrawlTopologyBuilder.java:250-466 — grows memory and plan-analysis
    # cost without bound. With compaction ON, each tick folds its
    # history into small eagerly-checkpointed frames (one tiny extra job
    # per tick) and per-tick cost stays flat. None = auto: on when the
    # state is durable (state_table or state_dir; required there: a new
    # base evicts the caches and its sweep deletes the files lazy frames
    # read) or the crawl is long (max_ticks > 50); off for short bench
    # loops where the extra per-tick job costs more than it saves.
    compact_history: bool | None = None
    keep_parsed: bool | None = None  # accumulate full parse output across
    # ticks (res.parsed). None = auto: off under compaction (a
    # continuous crawl streams parse output to sinks instead of
    # accumulating it; eagerly materializing full parse every tick
    # defeats the pruned-projection hot path), on otherwise.

    def __post_init__(self) -> None:
        # the frontier inlines the threshold into SQL text, where inf/nan
        # do not parse — reject them here, at the config surface
        if not math.isfinite(self.min_fetch_score):
            raise ValueError(f"min_fetch_score must be finite (got {self.min_fetch_score!r})")


@dataclass
class CrawlResult:
    crawl_state: DataFrame
    parsed: DataFrame | None
    trace: DataFrame | None
    ticks: int = 0
    stats: list[dict] = field(default_factory=list)


def clean_urls(
    raw: DataFrame,
    redirects: DataFrame | None = None,
    *,
    single_domain: str | None = None,
) -> DataFrame:
    """cleanUrls (CTB:475-484): lengthen -> normalize -> validate -> state rows.

    Input: (url, score). Output: valid, normalized URLs only (invalid
    URLs are dropped exactly as ValidUrlsFilter drops them).
    ``single_domain`` applies the SingleDomainUrlValidator restriction
    (urls/SingleDomainUrlValidator.java:90-142) to EVERY URL entering
    the DB — seeds and discovered outlinks alike.
    """
    df = raw
    if redirects is not None:
        df = lengthen_urls(df, redirects)
    # memoized static Column trees (r12): this runs every tick
    df = df.withColumn("url", normalize_url_lite_col("url"))
    df = df.filter(is_valid_url_col("url"))
    df = df.withColumn("pld", pld_col("url"))
    if single_domain is not None:
        df = df.filter(F.col("pld") == single_domain.lower())
    return df


def seeds_to_state(clean: DataFrame, *, now_ms: int) -> DataFrame:
    """ValidUrlsFilter conversion: survivors become UNFETCHED rows
    (``functions/ValidUrlsFilter.java:16-47``)."""
    # per-tick call: one selectExpr round-trip instead of ~15 Column
    # round-trips (r13, guide §1.2); types pinned by explicit casts
    return clean.selectExpr(
        "url",
        "pld",
        "'UNFETCHED' AS status",
        f"CAST({int(now_ms)} AS BIGINT) AS status_time",
        "coalesce(score, CAST(1.0 AS DOUBLE)) AS score",
        f"CAST({int(now_ms)} AS BIGINT) AS next_fetch_time",
    )


def crawl(
    spark: SparkSession,
    seeds: DataFrame,
    *,
    pages: DataFrame | None = None,
    fetch_fn=None,
    robots_rules: DataFrame | None = None,
    sitemap_entries: DataFrame | None = None,
    redirects: DataFrame | None = None,
    config: CrawlConfig | None = None,
    scorer: PageScorer = all_equal_scorer,
    start_ms: int = 1_700_000_000_000,
    marker=None,
) -> CrawlResult:
    """Run the crawl loop against fixture/service tables until idle.

    ``pages`` is the rendered-pages table (mock web). ``fetch_fn`` is
    the pluggable fetcher seam (the reference's BaseHttpFetcherBuilder
    slot): ``fetch_fn(to_fetch, now_ms=...) -> FETCH_RESULT_SCHEMA``
    rows replace the mock join entirely — the CommonCrawl archive
    fetcher (`operators/commoncrawl.py::commoncrawl_fetch_fn`) plugs in
    here; every other stage is identical. Exactly one of ``pages`` /
    ``fetch_fn`` must be given. ``marker`` is the durable state's commit
    marker when the caller has just read it (the streaming shell); None
    reads it.
    """
    if (pages is None) == (fetch_fn is None):
        raise ValueError("exactly one of pages= / fetch_fn= must be given")
    # Tick frames are small relative to the cluster: let AQE coalesce
    # post-shuffle partitions by SIZE instead of stopping at default
    # parallelism (parallelismFirst). Otherwise every per-tick stage
    # carries a full complement of near-empty tasks and the loop pays
    # ~cores x ticks of pure scheduling overhead. Scoped to the loop and
    # restored on exit; at 100 TB size-based coalescing is also the
    # right call (partitions track the 64 MB advisory size).
    cfg = config or CrawlConfig()
    loop_confs = {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4m",
        # interpreted expression eval for the tick jobs: per-tick literals
        # (now_ms) are inlined into generated sources, so every tick would
        # miss the codegen cache and pay a fresh compile — more than the
        # interpreted eval costs on a bounded frontier batch
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    }
    if cfg.shuffle_partitions is not None:
        # scoped like the confs above: the crawl loop is a driver-side
        # loop that owns the session for its (synchronous) duration,
        # and the finally below restores the caller's value
        loop_confs["spark.sql.shuffle.partitions"] = str(cfg.shuffle_partitions)
    saved = {}
    for k, v in loop_confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        return _crawl_body(
            spark,
            seeds,
            pages=pages,
            fetch_fn=fetch_fn,
            robots_rules=robots_rules,
            sitemap_entries=sitemap_entries,
            redirects=redirects,
            config=config,
            scorer=scorer,
            start_ms=start_ms,
            marker=marker,
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _crawl_body(
    spark: SparkSession,
    seeds: DataFrame,
    *,
    pages: DataFrame | None,
    fetch_fn,
    robots_rules: DataFrame | None,
    sitemap_entries: DataFrame | None,
    redirects: DataFrame | None,
    config: CrawlConfig | None,
    scorer: PageScorer,
    start_ms: int,
    marker,
) -> CrawlResult:
    cfg = config or CrawlConfig()
    backend = state_backend(spark, cfg)
    # the mock-web join hits `pages` every tick — cache it once instead of
    # re-deriving the fixture (scan + render) per tick; materialized by
    # tick 1's job, dropped before returning
    if pages is not None:
        pages = pages.persist()
    empty_rules = robots_rules is None
    if empty_rules:
        robots_rules = spark.createDataFrame(
            [], "host_root string, disallow array<string>, allow array<string>, "
            "crawl_delay_ms long, sitemaps array<string>"
        )

    compact = cfg.compact_history
    if compact is None:
        compact = backend.evicts_caches or cfg.max_ticks > 50
    keep_parsed = cfg.keep_parsed
    if keep_parsed is None:
        keep_parsed = not compact
    # without compaction the moving-average history re-reads each tick's
    # parsed_slim on every later tick — those persists are freed at exit
    keep_slim = cfg.domain_score_budget is not None and not compact
    trace_frames: list[DataFrame] = []
    parsed_frames: list[DataFrame] = []
    domain_score_hist: list[DataFrame] = []  # (pld, seq, score) per tick
    budget_slim_frames: list[DataFrame] = []  # budget-mode persists to free
    stats: list[dict] = []

    def record(tick: int, operator: str, df: DataFrame, url_col: str = "url"):
        if cfg.trace:
            trace_frames.append(
                df.select(
                    F.lit(tick).alias("tick"),
                    F.lit(operator).alias("operator"),
                    F.col(url_col).alias("url"),
                )
            )

    # Durable state (reference: Flink checkpointing, CrawlTool.java:60-64
    # — AT_LEAST_ONCE with possible in-flight loss on iterations). Here a
    # durable backend's persisted state is the checkpoint: each tick
    # commits atomically, so restart resumes from the last completed
    # tick with exactly-once effects — strictly stronger.
    opened = backend.open(marker)
    if opened is None:
        start_tick, now_ms = 0, start_ms
        # seed ingestion (tick 0); merge immediately: distinct seeds can
        # normalize to the same URL (scores sum, exactly the UNFETCHED lattice)
        cleaned = clean_urls(seeds, redirects, single_domain=cfg.single_domain)
        record(0, "seed", cleaned)
        crawl_state = backend.seed(merge_crawl_state(seeds_to_state(cleaned, now_ms=now_ms)))
    else:
        crawl_state, start_tick, clock = opened
        # prefer the persisted clock: refetch-mode sleep jumps moved it
        # past tick*tick_ms, and rewinding would re-burn ticks re-deriving
        # jumps already taken; clockless (older) state falls back
        now_ms = clock if clock is not None else start_ms + start_tick * cfg.tick_ms

    # Sitemap URLs advertised by robots go straight to the sitemap fetch
    # path (CTB:325-350: the `sitemap` split bypasses the URL DB). With
    # table-backed sitemaps, fetch+parse collapses to one join.
    robots_sitemap_entries = None
    if not empty_rules and sitemap_entries is not None:
        from ..operators.parse import failed_sitemaps, sitemap_fetch_status

        sm_urls = robots_sitemap_urls(robots_rules)
        robots_sitemap_entries = sm_urls.join(
            sitemap_entries, sm_urls["url"] == sitemap_entries["sitemap_url"]
        ).select(F.col("entry_url").alias("url"), F.lit(1.0).alias("score"))
        # F4 HandleFailedSiteMapFunction: advertised sitemaps that fetch
        # nothing surface in the URL trace (the reference LOGS them and
        # passes through; the pass-through half is robots_sitemap_entries)
        record(
            0,
            "sitemap_failed",
            failed_sitemaps(
                sitemap_fetch_status(sm_urls, sitemap_entries, now_ms=now_ms)
            ),
        )

    def fold_tick_history(tick_mark: int) -> None:
        # ---- history compaction (long-crawl flat-cost path) ----
        if cfg.domain_score_budget is not None and compact and domain_score_hist:
            # fold the score history to the newest N scores per pld —
            # ONE small checkpointed frame, so the quota plan and the
            # frames it holds do not grow with tick count
            from pyspark.sql import Window

            hist = domain_score_hist[0]
            for h in domain_score_hist[1:]:
                hist = hist.unionByName(h)
            w = Window.partitionBy("pld").orderBy(
                F.col("seq").desc(), F.col("score")
            )
            folded = (
                hist.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= cfg.domain_score_window)
                .drop("__rn")
                .localCheckpoint(eager=True)
            )
            domain_score_hist.clear()
            domain_score_hist.append(folded)
        if compact and cfg.trace and len(trace_frames) > tick_mark:
            # fold this tick's trace slice into one checkpointed chunk
            # (reads only this tick's caches, which are still live)
            chunk = trace_frames[tick_mark]
            for f in trace_frames[tick_mark + 1 :]:
                chunk = chunk.unionByName(f)
            del trace_frames[tick_mark:]
            trace_frames.append(chunk.localCheckpoint(eager=True))

    deadline = time.time() + cfg.max_duration_sec
    tick = start_tick
    while tick < cfg.max_ticks and time.time() < deadline:
        tick += 1
        now_ms += cfg.tick_ms
        tick_mark = len(trace_frames)  # compaction: this tick's trace slice

        # With a domain_score_budget, frontier admission is quota'd by the
        # per-domain moving-average score — the domain-score feedback edge
        # (MovingAverageFunction -> UrlDBFunction timer policy, CTB:419-423)
        if cfg.domain_score_budget is not None and domain_score_hist:
            from pyspark.sql import Window

            from ..operators.frontier import select_frontier_with_quotas

            hist = domain_score_hist[0]
            for h in domain_score_hist[1:]:
                hist = hist.unionByName(h)
            if compact:
                # history is already folded to the newest N scores per
                # pld (one checkpointed frame) — the mean is a plain agg
                avg = hist.groupBy("pld").agg(F.avg("score").alias("score"))
            else:
                # G1: mean of the last N scores per domain (count window
                # over arrival order — MovingAverageAccumulator semantics)
                w = Window.partitionBy("pld").orderBy(
                    F.col("seq").desc(), F.col("score")
                )
                avg = (
                    hist.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= cfg.domain_score_window)
                    .groupBy("pld")
                    .agg(F.avg("score").alias("score"))
                )
            select = partial(
                select_frontier_with_quotas,
                domain_scores=avg,
                now_ms=now_ms,
                budget=cfg.domain_score_budget,
                min_fetch_score=cfg.min_fetch_score,
                refetch=cfg.refetch,
            )
        else:
            select = partial(
                select_frontier,
                now_ms=now_ms,
                max_queue_size=cfg.max_queue_size,
                min_fetch_score=cfg.min_fetch_score,
                max_per_domain=cfg.max_per_domain,
                refetch=cfg.refetch,
            )
        # persist (lazy) rather than checkpoint (eager job): the backend's
        # one state job per tick materializes the cache, and its frontier
        # count reads it afterwards. On the terminal (empty-frontier) tick
        # the whole dataflow runs over empty frames and the merge is an
        # exact no-op.
        frontier = backend.frontier(crawl_state, tick, select).persist()
        record(tick, "frontier", frontier)

        # A1: robots routing (skipped entirely when there are no rules —
        # everything passes with the default delay, no join in the plan)
        if empty_rules:
            _delay = (
                cfg.force_crawl_delay_ms
                if cfg.force_crawl_delay_ms is not None
                else cfg.default_crawl_delay_ms
            )
            routed = frontier.selectExpr(
                "*",
                "'passed' AS route",
                f"CAST({int(_delay)} AS BIGINT) AS crawl_delay_ms",
            )
        else:
            routed = check_urls_against_robots(
                frontier,
                robots_rules,
                force_crawl_delay_ms=cfg.force_crawl_delay_ms,
                default_crawl_delay_ms=cfg.default_crawl_delay_ms,
            )
        blocked = blocked_status_updates(routed, now_ms=now_ms)
        record(tick, "robots_blocked", blocked)
        passed = routed.where("route = 'passed'").drop("route")
        record(tick, "robots_passed", passed)

        # A2/J4: politeness slots. Over-quota URLs surface as
        # SKIPPED_CRAWLDELAY *observations* (trace/metrics, exactly the
        # reference's skip records) but do NOT merge into state: they
        # simply stay UNFETCHED and re-enter a later frontier — the
        # set-based equivalent of restorePreviousStatus (SURVEY §7
        # "hard parts": displacement disappears under recomputation).
        if cfg.force_crawl_delay_ms == 0 and cfg.tick_ms > 0:
            # r13 (guide §2.4): zero forced delay means every slot fires
            # at now (slot*0 == 0 < tick_ms) and nothing ever routes to
            # 'crawldelay' — the per-pld slot window is a per-tick
            # exchange + sort that computes a constant. Emit the
            # constants directly; crawldelay_status_updates folds to an
            # empty relation at optimization (route is lit('fetch')).
            split = passed.selectExpr(
                "*",
                f"CAST({int(now_ms)} AS BIGINT) AS fetch_time",
                "'fetch' AS route",
            )
        else:
            split = politeness_split(passed, now_ms=now_ms, tick_ms=cfg.tick_ms)
        if cfg.trace:  # the crawldelay observations feed ONLY the trace
            record(tick, "crawldelay", crawldelay_status_updates(split))
        to_fetch = split.where("route = 'fetch'")
        record(tick, "fetch", to_fetch)

        # fetch (mock join, or the injected fetcher); lazy persist —
        # materialized by the state merge job, then reused by
        # status/parse/sitemap branches
        if fetch_fn is not None:
            # injected fetchers may leave pld null (e.g. archive misses);
            # re-derive it so keyed downstream stages stay domain-correct
            results = fetch_fn(to_fetch, now_ms=now_ms).withColumn(
                "pld", F.coalesce(F.col("pld"), pld_expr(F.col("url")))
            )
        else:
            results = mock_fetch(
                to_fetch, pages, now_ms=now_ms, refetch_interval_ms=cfg.refetch_interval_ms
            )
        if cfg.max_content_size:
            # -maxcontentsize (FetchUrlsFunction body truncation analogue):
            # binary substr is 1-based and a no-op when already shorter
            results = results.withColumn(
                "content", F.substring(F.col("content"), 1, cfg.max_content_size)
            )
        if cfg.html_only:
            results = mime_filter(results)
        results = results.persist()
        if cfg.trace:  # don't build the filter frame when tracing is off
            record(tick, "fetched", results.where("status = 'FETCHED'"))
        status_updates = fetch_status_updates(results)

        # U1: parse + side outputs (persisted: 4 outputs off one frame,
        # and parsed_frames are unioned after the loop)
        # Hot path: the tick job only consumes (url, pld, score, outlinks)
        # — persist a PRUNED projection so the language profiler and
        # title/body-text regexes never compute (or even analyze, in the
        # regex-parser mode) inside the loop. The FULL parse plan is only
        # constructed at all when something consumes it (keep_parsed, or
        # the tree parser whose slim projection derives from it);
        # parsed_output keeps it lazy: it recomputes from the
        # deterministic fixture only if the caller reads res.parsed.
        parsed = None
        if cfg.parser == "tree":
            from ..operators.parse import parse_pages_html

            parsed = parse_pages_html(
                results, scorer=scorer, max_outlinks=cfg.max_outlinks
            )
            parsed_slim = parsed.select(
                "url", "pld", "score", "outlinks", "n_outlinks"
            ).persist()
        else:
            from ..operators.parse import parse_outlinks_slim

            parsed_slim = parse_outlinks_slim(
                results, scorer=scorer, max_outlinks=cfg.max_outlinks
            ).persist()
        record(tick, "parsed", parsed_slim)
        if keep_parsed:
            if parsed is None:
                parsed = parse_pages(
                    results, scorer=scorer, max_outlinks=cfg.max_outlinks
                )
            pf = parsed_output(parsed)
            if compact:
                # eager: a lazy frame would reference this tick's caches
                # / state-table version, which do not survive the tick
                pf = pf.localCheckpoint(eager=True)
            parsed_frames.append(pf)
        outlinks = outlink_output(parsed_slim)
        # G1 feedback: per-page domain scores enter the moving-average
        # history that drives next tick's quotas (CTB:419-423 loop);
        # only tracked in budget mode — nothing reads it otherwise
        if cfg.domain_score_budget is not None:
            domain_score_hist.append(
                domain_score_output(parsed_slim).withColumn(
                    "seq", F.lit(tick).cast("long")
                )
            )

        # U2: sitemap entries — robots-advertised sitemaps resolve on the
        # first tick; sitemap URLs discovered as links resolve via the
        # fetched-results join
        new_urls = outlinks.select("url", "score")
        if sitemap_entries is not None:
            sm = parse_sitemaps(results, sitemap_entries)
            if robots_sitemap_entries is not None and tick == 1:
                sm = sm.unionByName(robots_sitemap_entries).distinct()
            record(tick, "sitemap_entries", sm)
            new_urls = new_urls.unionByName(sm)

        # outlinks -> clean -> UNFETCHED observations (O2 union closes loop)
        cleaned_new = clean_urls(new_urls, redirects, single_domain=cfg.single_domain)
        record(tick, "outlink", cleaned_new)
        new_obs = seeds_to_state(cleaned_new, now_ms=now_ms)

        updates = (
            status_updates.select(*OBS_COLS)
            .unionByName(blocked.select(*OBS_COLS))
            .unionByName(new_obs.select(*OBS_COLS))
        )

        # O2 feedback edge: the backend merges the updates into the state
        # and persists the tick; it counts the frontier and runs the
        # history fold while this tick's caches are still live, then
        # releases them
        if keep_slim:
            budget_slim_frames.append(parsed_slim)
        step = backend.advance(
            crawl_state,
            updates,
            tick=tick,
            now_ms=now_ms,
            frontier=frontier,
            caches=[frontier, results] + ([] if keep_slim else [parsed_slim]),
            fold=partial(fold_tick_history, tick_mark),
        )
        stats += step.stats
        if step.state is None:
            # the state was already final, so this tick did not run: drop
            # its (empty) trace frames so the trace holds res.ticks ticks
            del trace_frames[tick_mark:]
            tick -= 1
            break
        crawl_state = step.state
        if step.frontier == 0:
            if step.sleep_ms is not None:
                # nothing admissible NOW, but a refetch timer is set: the
                # next tick lands on its due time
                now_ms = step.sleep_ms
                continue
            # terminal tick: updates were empty, so the merge was an
            # identity (singleton merge groups); stop like the
            # empty-frontier break did, one job later but one job cheaper
            # on every non-terminal tick
            break
        if step.done:
            break  # without stats, the empty-frontier check exits one tick later

    stats += backend.close(crawl_state)

    # budget-mode (non-compact) parsed_slim persists are read by every
    # later tick's moving-average plan — release them now that the loop
    # is done (previously they leaked for the session's lifetime)
    for f in budget_slim_frames:
        f.unpersist()

    parsed_all = None
    if parsed_frames:
        parsed_all = parsed_frames[0]
        for f in parsed_frames[1:]:
            parsed_all = parsed_all.unionByName(f)
        parsed_all = parsed_all.dropDuplicates(["url"])

    trace = None
    if trace_frames:
        trace = trace_frames[0]
        for f in trace_frames[1:]:
            trace = trace.unionByName(f)

    if pages is not None:
        pages.unpersist()  # late trace/parsed actions recompute deterministically
    return CrawlResult(
        crawl_state=crawl_state, parsed=parsed_all, trace=trace, ticks=tick, stats=stats
    )

"""The crawl engine: a driver-side micro-batch loop over a state table.

This is the Spark-first re-architecture of the reference's whole topology
(``topology/CrawlTopologyBuilder.java:250-466``). Flink runs ONE
always-on streaming job with two cyclic feedback edges
(``IterativeStream``); Spark has no stream cycles, so the iteration
moves into the driver (SURVEY §7): each tick is a pure batch dataflow
over the persisted ``crawl_state`` DataFrame, and the feedback edge is
the ``merge_updates`` fold back into it.

    tick:  frontier  = select_frontier(crawl_state)        # §2.5/2.6
           routed    = robots check (broadcast rules join)  # A1/F2/F3
           split     = politeness slots per pld             # A2/J4
           results   = fetch (mock join | mapInPandas HTTP) # A2
           parsed    = parse + 4 outputs                    # U1
           sitemapped= sitemap entries join                 # U2
           updates   = status ∪ blocked ∪ crawldelay ∪ cleaned outlinks
           crawl_state = merge_updates(crawl_state, updates)  # O2/§2.5

Termination (``config/CrawlTerminator`` analogue): empty frontier, no
state change (idle), max ticks, or wall-clock budget.

The per-operator URL trace mirrors the reference's test oracle
(``utils/UrlLogger`` + assertUrlLoggedBy,
``src/test/.../topology/CrawlTopologyTest.java:140-145``) as a
DataFrame: (tick, operator, url).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

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
from ..operators.merge import OBS_COLS, merge_crawl_state, merge_updates
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
    agent: str = "flink-crawler"
    max_content_size: int = 1 << 20  # -maxcontentsize (body truncation)
    fetch_timeout_sec: float = 100.0  # -timeout (http mode)
    fetchers_per_task: int = 10  # -fetcherspertask (http-mode thread pool)
    parser: str = "regex"  # BasePageParser slot: "regex" (codegen) | "tree" (HTML parser)
    # Shuffle/exchange partition count scoped to the loop (None = leave
    # the session's). A bounded replay at default parallelism pays
    # (cores x exchanges x ticks) of near-empty-task scheduling — the
    # same floor the stream queries measured (SCALE.md r6 addendum);
    # sizing this to the frontier batch cut crawl_reachability 15.1 ->
    # 9.6 s at sf0.1. A production crawl sizes it to its cluster.
    shuffle_partitions: int | None = None
    codegen: bool = False  # janino codegen inside the loop. Off by default:
    # per-tick literals (now_ms) are inlined into generated sources, so every
    # tick misses the codegen cache and pays a fresh compile — more than the
    # interpreted eval costs on a bounded frontier batch. Flip on for crawls
    # whose per-tick batches reach millions of URLs.
    trace: bool = True  # UrlLogger analogue
    collect_stats: bool = True  # per-tick status counts (df.observe — rides the tick job)
    state_dir: str | None = None  # durable checkpoint: crawl_state parquet per tick
    keep_checkpoints: int | None = 3  # retention: newest N state_t* snapshots (None = keep all)
    # 100 TB state path: keep the URL DB as a catalog table bucketed by
    # url (operators/state_table.py). The tick merge then runs
    # tick_merge_bucketed — a bucket-local sort-merge join where the
    # ONLY Exchange is the small per-tick delta's — instead of
    # merge_updates' union re-aggregation, which re-shuffles the ENTIRE
    # state every tick (tens of TB through the shuffle tier per tick at
    # the reference's 100 B-link design scale, UrlDBFunction.java:94-139).
    # The table doubles as the durable checkpoint (crash-safe staged
    # swap + crawl.tick property), so it is mutually exclusive with
    # state_dir.
    state_table: str | None = None
    state_buckets: int = 64  # physical layout constant — size for END state
    # LSM log mode on top of state_table: each tick writes ONE small
    # bucketed delta table (O(delta) write) and the state is read as
    # base ⋈ merge(deltas) — still bucket-local; every N ticks the view
    # compacts into the base with the crash-safe swap, amortizing the
    # full rewrite 1/N. None = rewrite per tick (tick_merge_bucketed).
    state_log_every: int | None = None
    # Long-crawl lineage bounding. The loop accumulates per-tick trace /
    # parsed / domain-score frames; left lazy, each holds a reference to
    # that tick's checkpointed state (or, in state_table mode, to a
    # table version that no longer exists after the swap), so a
    # 1,000-tick continuous crawl — the reference's operating mode,
    # CrawlTopologyBuilder.java:250-466 — grows memory and plan-analysis
    # cost without bound. With compaction ON, each tick folds its
    # history into small eagerly-checkpointed frames (one tiny extra job
    # per tick) and per-tick cost stays flat. None = auto: on when
    # state_table is set (required for correctness there) or the crawl
    # is long (max_ticks > 50); off for short bench loops where the
    # extra per-tick job costs more than it saves.
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


def _observed_count(obs, *, wait_s: float = 2.0) -> int | None:
    """The first metric of a one-count Observation, or None when it has
    not arrived within ``wait_s``. Never blocks without a deadline: the
    metric is delivered by an asynchronous listener, and AQE's
    empty-relation propagation can fold the CollectMetrics node out of
    the executed plan (exactly when the frontier IS runtime-empty) — the
    Observation then completes with a schemaless empty row, or never.
    Not ``obs.get``: pyspark's toPyRow rejects that empty row, and the
    JVM ``getRow`` waits forever on a metric that never fires.
    ``getRowOrEmpty`` waits at most 100 ms per call."""
    deadline = time.monotonic() + wait_s
    while True:
        opt = obs._jo.getRowOrEmpty()
        if opt.isDefined():
            row = opt.get()
            return int(row.getLong(0)) if row.size() > 0 else None
        if time.monotonic() >= deadline:
            return None


def _obs_counts(metrics: dict) -> dict:
    """Observed status-counter row -> {status: n} with absent statuses
    (None or 0) omitted, keeping the historical groupBy dict shape."""
    return {
        s: int(n)
        for s, n in metrics.items()
        if s != "__min_nft" and n is not None and int(n) > 0
    }


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
) -> CrawlResult:
    """Run the crawl loop against fixture/service tables until idle.

    ``pages`` is the rendered-pages table (mock web). ``fetch_fn`` is
    the pluggable fetcher seam (the reference's BaseHttpFetcherBuilder
    slot): ``fetch_fn(to_fetch, now_ms=...) -> FETCH_RESULT_SCHEMA``
    rows replace the mock join entirely — the CommonCrawl archive
    fetcher (`operators/commoncrawl.py::commoncrawl_fetch_fn`) plugs in
    here; every other stage is identical. Exactly one of ``pages`` /
    ``fetch_fn`` must be given.
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
    }
    if not cfg.codegen:
        # interpreted expression eval for the tick jobs (see CrawlConfig.codegen)
        loop_confs["spark.sql.codegen.wholeStage"] = "false"
        loop_confs["spark.sql.codegen.factoryMode"] = "NO_CODEGEN"
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
) -> CrawlResult:
    cfg = config or CrawlConfig()
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

    now_ms = start_ms
    compact = cfg.compact_history
    if compact is None:
        compact = cfg.state_table is not None or cfg.max_ticks > 50
    elif not compact and cfg.state_table is not None:
        # not a preference in table mode: lazy trace/parsed frames would
        # reference table versions whose files the next tick's swap
        # deletes — evaluating them later crashes or reads wrong data
        raise ValueError("state_table requires compact_history (got False)")
    keep_parsed = cfg.keep_parsed
    if keep_parsed is None:
        keep_parsed = not compact
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
    # — AT_LEAST_ONCE with possible in-flight loss on iterations). Here
    # the state TABLE is the checkpoint: each tick atomically replaces
    # the persisted parquet, so restart resumes from the last completed
    # tick with exactly-once effects — strictly stronger.
    start_tick = 0
    resumed = False
    if cfg.state_table is not None and cfg.state_dir is not None:
        raise ValueError("state_table and state_dir are mutually exclusive")
    if cfg.state_log_every is not None and cfg.state_table is None:
        raise ValueError("state_log_every requires state_table")
    if cfg.state_table is not None:
        from ..operators.state_table import (
            get_state_now_ms,
            get_state_tick,
            read_state_log,
        )

        if spark.catalog.tableExists(cfg.state_table) or spark.catalog.tableExists(
            f"{cfg.state_table}__old"
        ):
            # ALWAYS resume through the log view: a table previously run
            # in log mode may carry committed-but-uncompacted delta
            # ticks, and resuming from the bare base would silently drop
            # them (with no pending deltas this IS the base scan).
            # read_state_log's base load also restores from __old.
            crawl_state = read_state_log(spark, cfg.state_table)
            start_tick = get_state_tick(spark, cfg.state_table)
            stored_now = get_state_now_ms(spark, cfg.state_table)
            # prefer the persisted clock: refetch-mode sleep jumps moved
            # it past tick*tick_ms, and rewinding would re-burn ticks
            # re-deriving jumps already taken
            now_ms = stored_now if stored_now is not None else now_ms + start_tick * cfg.tick_ms
            resumed = True
    if cfg.state_dir is not None:
        import os

        marker = os.path.join(cfg.state_dir, "_LATEST")
        if os.path.exists(marker):
            with open(marker) as fh:
                content = fh.read().strip()
            try:
                parts = content.split()
                start_tick = int(parts[0])
                stored_now = int(parts[1]) if len(parts) > 1 else None
            except (ValueError, IndexError):
                raise ValueError(
                    f"corrupt checkpoint marker {marker!r} (contents {content!r}); "
                    "delete the state_dir to restart from seeds"
                ) from None
            crawl_state = spark.read.parquet(
                os.path.join(cfg.state_dir, f"state_t{start_tick}")
            ).localCheckpoint(eager=True)
            # prefer the persisted clock (refetch sleep jumps move it
            # past tick*tick_ms); older single-token markers fall back
            now_ms = stored_now if stored_now is not None else now_ms + start_tick * cfg.tick_ms
            resumed = True

    if not resumed:
        # seed ingestion (tick 0); merge immediately: distinct seeds can
        # normalize to the same URL (scores sum, exactly the UNFETCHED lattice)
        cleaned = clean_urls(seeds, redirects, single_domain=cfg.single_domain)
        record(0, "seed", cleaned)
        seeded = merge_crawl_state(seeds_to_state(cleaned, now_ms=now_ms))
        if cfg.state_table is not None:
            from ..operators.state_table import (
                load_bucketed_state,
                save_bucketed_state,
                set_state_tick,
            )

            save_bucketed_state(seeded, cfg.state_table, buckets=cfg.state_buckets)
            set_state_tick(spark, cfg.state_table, 0)
            crawl_state = load_bucketed_state(spark, cfg.state_table)
        else:
            crawl_state = seeded.localCheckpoint(eager=True)

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

    # Status counters / refetch due-timer aggregates (built once — the
    # Column exprs are reusable; an Observation is created per tick).
    # These are the Flink-counter surface (StatusCounterFunction /
    # DEFAULT_METRIC gauges) computed at zero extra actions per tick.
    obs_aggs = None
    log_mode = cfg.state_table is not None and bool(cfg.state_log_every)
    if cfg.collect_stats or cfg.refetch:
        from ..schemas import FETCH_STATUSES

        obs_aggs = []
        if cfg.collect_stats:
            obs_aggs += [
                F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s)
                for s in FETCH_STATUSES
            ]
        if cfg.refetch:
            # refetch-mode termination needs the earliest due time among
            # tracked FETCHED rows — rides the same job
            obs_aggs.append(
                F.min(
                    F.when(F.col("status") == "FETCHED", F.col("next_fetch_time"))
                ).alias("__min_nft")
            )
    # Log mode records per-tick stats one tick in arrears (the metrics
    # ride the NEXT frontier scan of the state view) — this entry holds
    # the tick whose counts have not arrived yet.
    pending_stat: dict | None = None

    deadline = time.time() + cfg.max_duration_sec
    tick = start_tick
    while tick < cfg.max_ticks and time.time() < deadline:
        tick += 1
        now_ms += cfg.tick_ms
        tick_mark = len(trace_frames)  # compaction: this tick's trace slice

        state_obs = None
        if log_mode and obs_aggs:
            # LSM log mode has no full-state WRITE job to ride, but the
            # frontier selection below scans the state view anyway — the
            # only O(state-scan) action of the tick. Attach the counters
            # to THAT scan instead of paying a second full-state agg per
            # tick. The metrics therefore describe the PRE-merge state
            # (= last tick's post-merge state): stats are finalized one
            # tick in arrears, and the refetch due-timer is only ever
            # consulted on empty-frontier ticks, where the merge is an
            # identity and pre == post exactly.
            from pyspark.sql import Observation

            state_obs = Observation(f"state_scan_t{tick}")
            crawl_state = crawl_state.observe(state_obs, *obs_aggs)

        # persist (lazy) rather than checkpoint (eager job): the count()
        # below materializes the cache; downstream branches then reuse it.
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
            frontier = select_frontier_with_quotas(
                crawl_state,
                avg,
                now_ms=now_ms,
                budget=cfg.domain_score_budget,
                min_fetch_score=cfg.min_fetch_score,
                refetch=cfg.refetch,
            )  # persisted below (shared with the default branch)
        else:
            frontier = select_frontier(
                crawl_state,
                now_ms=now_ms,
                max_queue_size=cfg.max_queue_size,
                min_fetch_score=cfg.min_fetch_score,
                max_per_domain=cfg.max_per_domain,
                refetch=cfg.refetch,
            )
        # r13 (guide §1.5 Observation idiom, §1.2): in default (non-table)
        # mode without stats, n_frontier only drives the == 0 termination
        # check — ride it on the checkpoint job as a CollectMetrics node
        # instead of paying a separate count() action per tick. The
        # metric fires when the persisted frontier materializes inside
        # the checkpoint job (exactly once: the cache computes each
        # partition once). Stats mode keeps the exact count() because its
        # per-tick "frontier" values are user-visible output.
        front_obs = None
        if cfg.state_table is None and not cfg.collect_stats:
            from pyspark.sql import Observation

            front_obs = Observation(f"frontier_n_t{tick}")
            frontier = frontier.observe(front_obs, F.count(F.lit(1)).alias("n"))
        frontier = frontier.persist()
        # NOTE: no eager count here — the frontier persist is materialized
        # by the state-checkpoint job below, and the emptiness check reads
        # that cache afterwards. One Spark job per tick, not two; on the
        # terminal (empty-frontier) tick the whole dataflow runs over
        # empty frames and the merge is an exact no-op.
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

        if not log_mode and obs_aggs:
            # non-log modes: the counters ride the state checkpoint /
            # bucketed-merge write job below via df.observe — post-merge
            # metrics at zero extra actions
            from pyspark.sql import Observation

            state_obs = Observation(f"state_t{tick}")

        def _fold_tick_history():
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

        if cfg.state_table is not None:
            # Table modes: every cache consumer runs BEFORE the merge —
            # the post-merge swap refreshes the table relation, which
            # cascade-evicts dependent cached frames, and a count or
            # fold after the swap would recompute against deleted
            # files. The count job materializes the tick's persists;
            # the merge write below reuses them.
            n_frontier = frontier.count()
            _fold_tick_history()

        if log_mode and state_obs is not None and cfg.collect_stats:
            # The frontier count above fired the observation — these are
            # LAST tick's post-merge counts. Finalize that tick's stats
            # entry now, and restore the UNFETCHED==0 early exit the
            # per-tick-agg design had: zero UNFETCHED rows post-merge
            # (non-refetch) means no tick can ever admit again, so skip
            # this tick's (empty) delta write + marker advance entirely
            # and report the previous tick as the last one that worked —
            # same res.ticks, same durable table tick as the r4 design.
            early = dict(state_obs.get)
            if pending_stat is not None:
                pending_stat["status_counts"] = _obs_counts(early)
                stats.append(pending_stat)
                pending_stat = None
            if (
                not cfg.refetch
                and n_frontier == 0
                and early.get("UNFETCHED") in (None, 0)
            ):
                frontier.unpersist()
                results.unpersist()
                parsed_slim.unpersist()
                # The aborted tick's dataflow was already built and its
                # (empty) trace frames recorded — drop them so trace
                # consumers see exactly res.ticks ticks, as the
                # per-tick-agg design produced.
                del trace_frames[tick_mark:]
                tick -= 1
                break

        if log_mode:
            # LSM log mode: the tick writes ONE delta-sized bucketed
            # table; state reads are base ⋈ merge(deltas) (bucket-local
            # both sides); the full rewrite happens only at compaction.
            # Status counters already rode the frontier count's scan of
            # the state view (state_obs attached at tick top) — the tick
            # runs exactly one O(state-scan) action.
            from ..operators.state_table import (
                read_state_log,
                tick_append_log,
            )

            tick_append_log(
                spark,
                cfg.state_table,
                updates,
                buckets=cfg.state_buckets,
                tick=tick,
                now_ms=now_ms,
            )
            # compaction is deferred to the END of the tick: DROP TABLE
            # on the folded deltas cascade-uncaches every cached plan
            # referencing them — including the frontier cache the counts
            # and trace folds below still need
            new_state = read_state_log(spark, cfg.state_table)
        elif cfg.state_table is not None:
            # 100 TB path: bucket-local join-merge into the durable table
            # — the only Exchange in the merge plan is the per-tick
            # delta's; the state side never re-shuffles
            # (operators/state_table.py, test_bucketed_state.py)
            from ..operators.state_table import tick_merge_bucketed

            # tick is stamped on the staging table BEFORE the swap, so
            # data and tick counter replace the live table atomically
            new_state = tick_merge_bucketed(
                spark,
                cfg.state_table,
                updates,
                buckets=cfg.state_buckets,
                merged_transform=(
                    (lambda df: df.observe(state_obs, *obs_aggs))
                    if state_obs is not None
                    else None
                ),
                tick=tick,
                now_ms=now_ms,
            )
        else:
            # localCheckpoint truncates lineage — without it the state
            # plan grows with every tick and analysis time explodes.
            # This one job also materializes the frontier/results/parsed
            # caches above.
            merged = merge_updates(crawl_state, updates)
            if state_obs is not None:
                merged = merged.observe(state_obs, *obs_aggs)
            new_state = merged.localCheckpoint(eager=True)
        if cfg.state_table is None:
            # default mode has no table swap: the checkpoint job above
            # materialized the caches. Without stats the frontier size
            # rode that job as a CollectMetrics observation (zero extra
            # actions); stats mode reads the cache with an exact count.
            if front_obs is not None:
                # a row that is missing, empty or 0 is verified with ONE
                # cache read (the cache is already materialized)
                n_frontier = _observed_count(front_obs) or frontier.count()
            else:
                n_frontier = frontier.count()
            _fold_tick_history()

        frontier.unpersist()
        results.unpersist()
        if cfg.domain_score_budget is None or compact:
            # nothing reads it after the tick job (under compaction its
            # scores were folded into the checkpointed history above);
            # without compaction the moving-average history re-reads it
            # on every later tick — free it at loop exit instead
            parsed_slim.unpersist()
        else:
            budget_slim_frames.append(parsed_slim)

        if (
            cfg.state_table is not None
            and cfg.state_log_every
            and tick % cfg.state_log_every == 0
        ):
            # caches are released and trace chunks checkpointed — the
            # delta DROPs inside compaction can no longer uncache
            # anything this tick still reads
            from ..operators.state_table import compact_state_log, read_state_log

            compact_state_log(spark, cfg.state_table, buckets=cfg.state_buckets)
            new_state = read_state_log(spark, cfg.state_table)
        tick_metrics = None
        if state_obs is not None:
            # rode the state write job (non-log modes: post-merge) or the
            # frontier count's state-view scan (log mode: pre-merge —
            # last tick's pending stats were already finalized from it
            # right after the count, before the merge)
            tick_metrics = dict(state_obs.get)
        due_ms = None
        if cfg.refetch and tick_metrics is not None:
            v = tick_metrics.get("__min_nft")
            due_ms = int(v) if v is not None else None
        if n_frontier == 0:
            if (
                cfg.refetch
                and due_ms is not None
                and due_ms > now_ms
                and tick < cfg.max_ticks
            ):
                # nothing admissible NOW, but a refetch timer is set:
                # sleep the clock forward so the next tick lands on the
                # due time (Flink's per-key timer semantics — the loop
                # sleeps to the next timer instead of running empty
                # dataflows until it arrives)
                now_ms = max(now_ms, due_ms - cfg.tick_ms)
                crawl_state = new_state
                continue
            # terminal tick: updates were empty, so new_state == crawl_state
            # (singleton merge groups are identity); stop like the
            # empty-frontier break did, one job later but one job cheaper
            # on every non-terminal tick
            crawl_state = new_state
            break

        if cfg.state_dir is not None:
            import os
            import re as _re
            import shutil as _shutil

            path = os.path.join(cfg.state_dir, f"state_t{tick}")
            new_state.write.mode("overwrite").parquet(path)
            tmp = os.path.join(cfg.state_dir, "_LATEST.tmp")
            with open(tmp, "w") as fh:
                fh.write(f"{tick} {now_ms}")  # tick + simulated clock
            os.replace(tmp, os.path.join(cfg.state_dir, "_LATEST"))  # atomic
            # retention sweep: a long crawl writes thousands of ticks —
            # keep the newest keep_checkpoints snapshots (the marker
            # already points at the newest, so older ones only serve
            # manual rollback). Sweep AFTER the marker flips, so a crash
            # mid-sweep still leaves a consistent latest.
            if cfg.keep_checkpoints is not None and cfg.keep_checkpoints >= 1:
                snaps = sorted(
                    int(m.group(1))
                    for d in os.listdir(cfg.state_dir)
                    if (m := _re.fullmatch(r"state_t(\d+)", d))
                )
                for old in snaps[: -cfg.keep_checkpoints]:
                    _shutil.rmtree(
                        os.path.join(cfg.state_dir, f"state_t{old}"), ignore_errors=True
                    )

        # idle detection (NoActivityCrawlTerminator analogue): state fixpoint
        crawl_state = new_state
        if cfg.collect_stats:
            if log_mode:
                # this tick's post-merge counts arrive with the NEXT
                # frontier scan — park the entry until then (finalized
                # above, or by the one-time agg after the loop if the
                # crawl ends on max_ticks/deadline)
                pending_stat = {"tick": tick, "frontier": n_frontier}
            else:
                # metrics were collected DURING the checkpoint job above;
                # reading them is a lookup, not an action. Absent statuses
                # (None or 0) are omitted to keep the historical groupBy
                # dict shape.
                counts = _obs_counts(tick_metrics)
                stats.append(
                    {"tick": tick, "frontier": n_frontier, "status_counts": counts}
                )
                # frontier admission is UNFETCHED-only (FetchQueue.java
                # semantics, operators/frontier.py), so zero UNFETCHED rows
                # means no future tick can admit anything — exit now. In
                # refetch mode FETCHED rows re-enter when due, so the
                # empty-frontier check above (which consults the earliest
                # refetch timer) is the terminator instead.
                if counts.get("UNFETCHED", 0) == 0 and not cfg.refetch:
                    break  # without stats, the empty-frontier check exits one tick later

    if pending_stat is not None:
        # log-mode crawl ended with a tick whose post-merge counts never
        # rode a later scan (max_ticks / wall-clock exit, or the terminal
        # empty-frontier tick whose identity merge makes pre == post):
        # one final agg over the state view — a single O(state-scan)
        # action at crawl END, not per tick
        row = crawl_state.agg(*obs_aggs).collect()[0].asDict()
        pending_stat["status_counts"] = _obs_counts(row)
        stats.append(pending_stat)
        pending_stat = None

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

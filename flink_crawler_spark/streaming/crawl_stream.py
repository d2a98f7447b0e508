"""Continuous crawl: Structured Streaming wrapper around the batch tick.

Reference: the whole point of flink-crawler is ONE always-running job
continuously fed by ``SeedUrlSource``. Spark-side, continuous operation
is the streaming shell around the identical per-tick batch logic
(SURVEY §7): the seed DataSource emits new seed lines per micro-batch
(offset = file index, checkpointed by Spark), ``foreachBatch`` merges
them into the durable state table and advances the crawl a few ticks.

Exactly-once seed ingestion comes from the DataSource offset (Spark's
checkpoint prevents re-delivery), which is the reference's checkpointed
read index (SeedUrlSource.java:153-166) reborn as stream offsets. A
batch replayed before its first tick committed replaces its own pending
seeds (table mode); a later replay re-merges the same rows, which is
idempotent for already-fetched URLs.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..operators.merge import merge_crawl_state, merge_updates
from ..plans.crawl_loop import CrawlConfig, clean_urls, crawl, seeds_to_state


def _latest_marker(state_dir: str) -> tuple[int, int | None] | None:
    """(tick, now_ms) from the checkpoint marker; now_ms is None for
    pre-clock single-token markers."""
    marker = os.path.join(state_dir, "_LATEST")
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        # marker format: "tick" or "tick now_ms" (clock added r4)
        parts = fh.read().strip().split()
    return int(parts[0]), (int(parts[1]) if len(parts) > 1 else None)


def ingest_seeds(
    spark: SparkSession,
    seeds: DataFrame,
    state_dir: str,
    *,
    now_ms: int,
    single_domain: str | None = None,
) -> None:
    """Merge a batch of (new) seed rows into the durable state table."""
    cleaned = clean_urls(seeds, single_domain=single_domain)
    obs = seeds_to_state(cleaned, now_ms=now_ms)
    m = _latest_marker(state_dir)
    stored_now: int | None = None
    if m is None:
        state, tick = merge_crawl_state(obs), 0
    else:
        tick, stored_now = m
        current = spark.read.parquet(os.path.join(state_dir, f"state_t{tick}"))
        # materialize + cut lineage BEFORE overwriting the path we just
        # read ("cannot overwrite a path that is also being read from")
        state = merge_updates(current, obs).localCheckpoint(eager=True)
    os.makedirs(state_dir, exist_ok=True)
    state.write.mode("overwrite").parquet(os.path.join(state_dir, f"state_t{tick}"))
    tmp = os.path.join(state_dir, "_LATEST.tmp")
    with open(tmp, "w") as fh:
        # two-token "tick now_ms" format, PRESERVING a persisted clock: a
        # refetch-mode crawl may have sleep-jumped now_ms past
        # tick*tick_ms, and writing a clockless marker here would rewind
        # the resume and re-burn ticks re-deriving jumps already taken
        fh.write(f"{tick} {stored_now if stored_now is not None else now_ms}")
    os.replace(tmp, os.path.join(state_dir, "_LATEST"))


def ingest_seeds_table(
    spark: SparkSession,
    seeds: DataFrame,
    state_table: str,
    *,
    now_ms: int,
    buckets: int = 64,
    single_domain: str | None = None,
) -> int:
    """Ingest a batch of (new) seed rows into the BUCKETED state table —
    the 100 TB deployment shape (streaming seed source + durable
    bucketed URL DB). The batch's merged observations are written as the
    seeds pending for the next tick (a delta-sized write, replaced on
    replay; operators/state_table.py): the live state view folds them
    in, and the next committed tick absorbs them, in log and rewrite
    mode alike. Returns the table's completed-tick counter, which seed
    ingestion does not advance."""
    from ..operators.state_table import save_bucketed_state, set_state_tick, stage_pending_seeds

    obs = merge_crawl_state(
        seeds_to_state(clean_urls(seeds, single_domain=single_domain), now_ms=now_ms)
    )
    if spark.catalog.tableExists(state_table) or spark.catalog.tableExists(f"{state_table}__old"):
        return stage_pending_seeds(spark, state_table, obs)
    save_bucketed_state(obs, state_table, buckets=buckets)
    set_state_tick(spark, state_table, 0, now_ms=now_ms)
    return 0


def continuous_crawl(
    spark: SparkSession,
    *,
    seed_path: str,
    pages: DataFrame,
    state_dir: str | None = None,
    checkpoint_dir: str,
    config: CrawlConfig | None = None,
    ticks_per_batch: int = 3,
    seeds_per_batch: int = 0,  # 0 = whole file in one batch
    start_ms: int = 1_700_000_000_000,
    available_now: bool = True,
    state_table: str | None = None,
    state_buckets: int = 64,
):
    """Run the crawl as a streaming job fed by the seed DataSource.

    Returns the StreamingQuery. ``available_now=True`` drains one
    read() worth of seeds and stops (note: a SimpleDataSourceStreamReader
    snapshot is ONE read call — set seeds_per_batch=0 so the drain covers
    the whole file). ``available_now=False`` keeps triggering micro-batches
    (the always-on deployment; stop via query.stop() or
    processAllAvailable() for tests).

    State backend: exactly one of ``state_dir`` (per-tick parquet
    snapshots) or ``state_table`` (the BUCKETED catalog table — the
    100 TB deployment: per-tick merge is a bucket-local join, the table
    is the checkpoint). With ``state_table`` the batch loop runs
    through the same `CrawlConfig.state_table` seam the batch engine
    uses, so both run modes share one durable URL DB format.
    """
    from ..sources.seed_datasource import SeedDataSource

    if (state_dir is None) == (state_table is None):
        raise ValueError("exactly one of state_dir= / state_table= must be given")
    cfg = config or CrawlConfig()
    try:
        spark.dataSource.register(SeedDataSource)
    except Exception:
        pass  # already registered in this session

    stream = (
        spark.readStream.format("seed_source")
        .option("path", seed_path)
        .option("batch_size", str(seeds_per_batch))
        .load()
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if state_table is not None:
            from ..operators.state_table import (
                get_state_now_ms,
                get_state_tick,
                load_bucketed_state,
            )

            exists = spark.catalog.tableExists(state_table) or spark.catalog.tableExists(
                f"{state_table}__old"
            )
            stored_now = None
            if exists:
                # restore the live name from __old FIRST — a crash in
                # tick_merge_bucketed's rename window leaves only the
                # backup, and reading the tick property off the missing
                # live table would kill the streaming query instead of
                # recovering
                load_bucketed_state(spark, state_table)
                stored_now = get_state_now_ms(spark, state_table)
            tick = get_state_tick(spark, state_table) if exists else 0
            # prefer the persisted clock — refetch sleep jumps moved it
            # past tick*tick_ms, and seeds stamped with a rewound clock
            # would sort as already-due history
            now_ms = stored_now if stored_now is not None else start_ms + tick * cfg.tick_ms
            ingest_seeds_table(
                spark,
                batch_df,
                state_table,
                now_ms=now_ms,
                buckets=state_buckets,
                single_domain=cfg.single_domain,
            )
            batch_cfg = replace(
                cfg,
                state_table=state_table,
                state_buckets=state_buckets,
                max_ticks=tick + ticks_per_batch,
                trace=False,
            )
        else:
            m = _latest_marker(state_dir)
            tick = m[0] if m is not None else 0
            stored_now = m[1] if m is not None else None
            now_ms = stored_now if stored_now is not None else start_ms + tick * cfg.tick_ms
            ingest_seeds(
                spark, batch_df, state_dir, now_ms=now_ms, single_domain=cfg.single_domain
            )
            batch_cfg = replace(
                cfg,
                state_dir=state_dir,
                max_ticks=tick + ticks_per_batch,
                trace=False,
            )
        empty_seeds = spark.createDataFrame([], "url string, score double")
        crawl(spark, empty_seeds, pages=pages, config=batch_cfg, start_ms=start_ms)

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

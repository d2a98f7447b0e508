"""Continuous crawl: Structured Streaming wrapper around the batch tick.

Reference: the whole point of flink-crawler is ONE always-running job
continuously fed by ``SeedUrlSource``. Spark-side, continuous operation
is the streaming shell around the identical per-tick batch logic
(SURVEY §7): the seed file's lines are staged as one file per
micro-batch inside the checkpoint and streamed by Spark's built-in file
source (sources/seeds.py), and ``foreachBatch`` merges each batch into
the durable state and advances the crawl a few ticks.

Exactly-once seed ingestion comes from the file source's offset log
(Spark's checkpoint prevents re-delivery), which is the reference's
checkpointed read index (SeedUrlSource.java:153-166) reborn as stream
offsets. A batch replayed before its first tick committed replaces its
own pending seeds (table mode); a later replay re-merges the same rows,
which is idempotent for already-fetched URLs.
"""

from __future__ import annotations

from dataclasses import replace
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..plans.crawl_loop import CrawlConfig, clean_urls, crawl, seeds_to_state
from ..plans.state_backend import state_backend
from ..sources.seeds import seed_stream


def ingest_seeds(
    spark: SparkSession,
    seeds: DataFrame,
    state_dir: str,
    *,
    now_ms: int,
    single_domain: str | None = None,
) -> None:
    """Merge a batch of (new) seed rows into the latest ``state_dir``
    snapshot (``state_t0`` when there is none), keeping its marker's
    tick and persisted clock."""
    obs = seeds_to_state(clean_urls(seeds, single_domain=single_domain), now_ms=now_ms)
    state_backend(spark, CrawlConfig(state_dir=state_dir)).ingest(obs, now_ms=now_ms)


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
    obs = seeds_to_state(clean_urls(seeds, single_domain=single_domain), now_ms=now_ms)
    cfg = CrawlConfig(state_table=state_table, state_buckets=buckets)
    return state_backend(spark, cfg).ingest(obs, now_ms=now_ms)


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
    """Run the crawl as a streaming job fed by the seed file.

    Returns the StreamingQuery. Each micro-batch ingests
    ``seeds_per_batch`` seed lines (0 = the whole file in one batch).
    ``available_now=True`` drains every seed line of the file and stops;
    ``available_now=False`` keeps triggering micro-batches (the always-on
    deployment; stop via query.stop() or processAllAvailable() for
    tests). A restart with the same ``checkpoint_dir`` ingests only the
    lines the seed file gained since; a checkpoint written by the old
    Python seed source is refused (delete it to start over).

    State backend: exactly one of ``state_dir`` (per-tick parquet
    snapshots) or ``state_table`` (the BUCKETED catalog table — the
    100 TB deployment: per-tick merge is a bucket-local join, the table
    is the checkpoint). Either is set on the batch crawl's
    ``CrawlConfig``, so the stream and the batch engine share one state
    backend and one durable URL DB format.
    """
    if (state_dir is None) == (state_table is None):
        raise ValueError("exactly one of state_dir= / state_table= must be given")
    cfg = replace(
        config or CrawlConfig(),
        state_dir=state_dir,
        state_table=state_table,
        state_buckets=state_buckets,
        trace=False,
    )
    backend = state_backend(spark, cfg)
    # the backend's public ingest, called by its module-level name
    ingest = ingest_seeds if state_table is None else partial(ingest_seeds_table, buckets=state_buckets)
    empty_seeds = spark.createDataFrame([], "url string, score double")
    stream = seed_stream(spark, seed_path, checkpoint_dir, seeds_per_batch)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # stamp the seeds with the persisted clock: refetch sleep jumps
        # moved it past tick*tick_ms, and seeds stamped with a rewound
        # clock would sort as already-due history
        tick, clock = backend.marker() or (0, None)
        now_ms = clock if clock is not None else start_ms + tick * cfg.tick_ms
        ingest(spark, batch_df, state_dir or state_table, now_ms=now_ms, single_domain=cfg.single_domain)
        batch_cfg = replace(cfg, max_ticks=tick + ticks_per_batch)
        crawl(spark, empty_seeds, pages=pages, config=batch_cfg, start_ms=start_ms)

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

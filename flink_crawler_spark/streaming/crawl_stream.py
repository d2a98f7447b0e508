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
own pending seeds; a later replay re-merges the same rows, which is
idempotent for already-fetched URLs.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..operators.state_table import Marker
from ..plans.crawl_loop import CrawlConfig, clean_urls, crawl, seeds_to_state
from ..plans.state_backend import state_backend
from ..sources.seeds import seed_stream

_UNREAD = object()  # ingest_seeds_table's caller has not read the marker


def ingest_seeds_table(
    spark: SparkSession,
    seeds: DataFrame,
    state_table: str,
    *,
    now_ms: int,
    buckets: int = 64,
    single_domain: str | None = None,
    marker=_UNREAD,
) -> Marker:
    """Ingest a batch of (new) seed rows into the durable state log —
    the 100 TB deployment shape (streaming seed source + durable
    bucketed URL DB). The batch's merged observations are written as the
    seeds pending for the next tick (a delta-sized write, replaced on
    replay; operators/state_table.py): the live state view folds them
    in, and the next committed tick absorbs them. ``state_table`` is the
    log's table name (``state_dir_table`` names a ``state_dir``),
    ``marker`` its commit marker (None: there is no log yet) when the
    caller has just read it. Returns the marker, whose tick seed
    ingestion does not advance."""
    obs = seeds_to_state(clean_urls(seeds, single_domain=single_domain), now_ms=now_ms)
    backend = state_backend(spark, CrawlConfig(state_table=state_table, state_buckets=buckets))
    return backend.ingest(obs, now_ms=now_ms, marker=backend.marker() if marker is _UNREAD else marker)


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

    State: exactly one of ``state_dir`` (the state log's root
    directory) or ``state_table`` (its catalog name, rooted in the
    warehouse) — the one durable URL DB format, bucketed for the 100 TB
    deployment (per-tick merge is a bucket-local join). Either is set on
    the batch crawl's ``CrawlConfig``, so the stream and the batch engine
    share one state backend.
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
    empty_seeds = spark.createDataFrame([], "url string, score double")
    stream = seed_stream(spark, seed_path, checkpoint_dir, seeds_per_batch)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the batch's one marker read, handed to the ingest and to the
        # crawl's resume. Seeds are stamped with the persisted clock:
        # refetch sleep jumps moved it past tick*tick_ms, and seeds
        # stamped with a rewound clock would sort as already-due history
        m = backend.marker()
        tick, clock = (m.tick, m.clock) if m else (0, None)
        now_ms = clock if clock is not None else start_ms + tick * cfg.tick_ms
        m = ingest_seeds_table(
            spark, batch_df, backend.table, now_ms=now_ms, buckets=state_buckets,
            single_domain=cfg.single_domain, marker=m,
        )
        batch_cfg = replace(cfg, max_ticks=tick + ticks_per_batch)
        crawl(spark, empty_seeds, pages=pages, config=batch_cfg, start_ms=start_ms, marker=m)

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

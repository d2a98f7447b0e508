"""Continuous-crawl streaming wrapper: seeds stream in, state advances."""

from __future__ import annotations

import os

from flink_crawler_spark.plans.crawl_loop import CrawlConfig
from flink_crawler_spark.sources.fixtures import render_pages, web_graph_from_adjacency
from flink_crawler_spark.streaming.crawl_stream import continuous_crawl


def test_continuous_crawl_drains_seed_file(spark, tmp_path):
    adjacency = {
        "http://s1.com/": ["http://s1.com/a"],
        "http://s1.com/a": [],
        "http://s2.com/": [],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)
    seed_file = tmp_path / "seeds.txt"
    seed_file.write_text("# seeds\nhttp://s1.com/\nhttp://s2.com/\n")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    q = continuous_crawl(
        spark,
        seed_path=str(seed_file),
        pages=pages,
        state_dir=state_dir,
        checkpoint_dir=ckpt,
        config=CrawlConfig(collect_stats=False),
        ticks_per_batch=4,
        seeds_per_batch=1,  # one seed per micro-batch: 2 batches
        available_now=False,  # always-on mode; drain then stop below
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    tick = int(open(os.path.join(state_dir, "_LATEST")).read().split()[0])
    state = spark.read.parquet(os.path.join(state_dir, f"state_t{tick}"))
    st = {r["url"]: r["status"] for r in state.collect()}
    assert st["http://s1.com/"] == "FETCHED"
    assert st["http://s1.com/a"] == "FETCHED"  # outlink discovered + fetched
    assert st["http://s2.com/"] == "FETCHED"  # second micro-batch's seed


def test_restarted_stream_does_not_redeliver_seeds(spark, tmp_path):
    """Spark's stream checkpoint + the DataSource offset = the reference's
    checkpointed seed index: a restart continues, it doesn't re-ingest."""
    adjacency = {"http://r.com/": []}
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)
    seed_file = tmp_path / "seeds.txt"
    seed_file.write_text("http://r.com/ 2.5\n")
    state_dir = str(tmp_path / "state2")
    ckpt = str(tmp_path / "ckpt2")

    for _ in range(2):  # run, then restart with the same checkpoint
        q = continuous_crawl(
            spark,
            seed_path=str(seed_file),
            pages=pages,
            state_dir=state_dir,
            checkpoint_dir=ckpt,
            config=CrawlConfig(collect_stats=False),
            ticks_per_batch=2,
        )
        q.awaitTermination(300)

    tick = int(open(os.path.join(state_dir, "_LATEST")).read().split()[0])
    state = spark.read.parquet(os.path.join(state_dir, f"state_t{tick}"))
    rows = state.collect()
    assert len(rows) == 1  # no duplicate state rows after restart
    assert rows[0]["status"] == "FETCHED"


def test_available_now_drains_one_seed_per_batch(spark, tmp_path):
    """``available_now=True`` with one seed per micro-batch ingests every
    seed of the file, one per batch, and then stops."""
    adjacency = {"http://n1.com/": [], "http://n2.com/": [], "http://n3.com/": []}
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)
    seed_file = tmp_path / "seeds.txt"
    seed_file.write_text("http://n1.com/\n# skipped\nhttp://n2.com/ 2.0\nhttp://n3.com/\n")
    state_dir = str(tmp_path / "state")

    q = continuous_crawl(
        spark,
        seed_path=str(seed_file),
        pages=pages,
        state_dir=state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=CrawlConfig(collect_stats=False),
        ticks_per_batch=1,
        seeds_per_batch=1,
        available_now=True,
    )
    assert q.awaitTermination(300)
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [1, 1, 1]

    tick = int(open(os.path.join(state_dir, "_LATEST")).read().split()[0])
    state = spark.read.parquet(os.path.join(state_dir, f"state_t{tick}"))
    st = {r["url"]: r["status"] for r in state.collect()}
    assert st == {u: "FETCHED" for u in adjacency}


def test_url_db_per_domain_timers(spark, tmp_path):
    """Per-domain processing-time timers (UrlDBFunction.java:192-235):
    each domain's timer re-arms and admits its best UNFETCHED URL as
    QUEUED — score order within the domain, every URL eventually
    admitted."""
    import time
    import uuid

    from flink_crawler_spark.streaming.url_db import OBS_SCHEMA, url_db_with_timers

    obs_dir = str(tmp_path / "obs")
    rows = [
        ("http://a.com/1", "a.com", "UNFETCHED", 1, 5.0, 0),
        ("http://a.com/2", "a.com", "UNFETCHED", 1, 9.0, 0),
        ("http://b.com/1", "b.com", "UNFETCHED", 1, 2.0, 0),
    ]
    spark.createDataFrame(rows, OBS_SCHEMA).coalesce(1).write.mode("overwrite").parquet(obs_dir)
    stream = spark.readStream.schema(OBS_SCHEMA).parquet(obs_dir)
    out = url_db_with_timers(stream, base_interval_ms=200, max_per_fire=1)
    name = "timerdb_" + uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        want = {u for u, *_ in rows}
        # load-proof deadline (r12 verdict task 1): the admissions ride
        # wall-clock processing-time timers (500 ms triggers), which
        # straggle badly on a loaded host — the r12 driver's pytest run
        # died here at 30 s while a concurrent bench pinned all cores.
        # Match test_refetch_parity.py's sanctioned 120 s budget, and
        # keep extending while the engine is still completing batches
        # (progress-based, not purely wall-clock): the test only fails
        # if the stream goes 120 s without BOTH progress and the result.
        # Only batches that took input rows count as progress: a stream
        # that keeps running empty timer batches without ever emitting
        # the expected rows fails after 120 s, not at the hard cap.
        deadline = time.time() + 120
        hard_cap = time.time() + 600  # a genuinely broken stream still fails
        got = []
        last_batch = -1
        while time.time() < min(deadline, hard_cap):
            got = spark.sql(f"SELECT * FROM {name}").collect()
            if {r["url"] for r in got} >= want:
                break
            prog = q.lastProgress
            if (
                prog is not None
                and prog["batchId"] > last_batch
                and prog["numInputRows"] > 0
            ):
                last_batch = prog["batchId"]
                deadline = time.time() + 120  # still alive: reset the clock
            time.sleep(1)
    finally:
        q.stop()
    assert {r["url"] for r in got} == want
    assert all(r["status"] == "QUEUED" for r in got)
    a_order = [r["url"] for r in sorted(got, key=lambda r: r["status_time"]) if r["pld"] == "a.com"]
    assert a_order[0] == "http://a.com/2"  # score 9.0 admitted before 5.0


def test_streaming_crawl_converges_to_batch_state(spark, tmp_path):
    """One-job topology parity: the continuous (Structured Streaming)
    wrapper over the SAME fixture graph as the batch loop converges to
    the IDENTICAL final state table — the reference's single always-on
    job (CrawlTopologyBuilder.java:250-466) vs this engine's two run
    modes must agree row-for-row."""
    from flink_crawler_spark.plans.crawl_loop import crawl

    adjacency = {
        "http://domain1.com/": ["http://domain1.com/page1", "http://domain1.com/page2"],
        "http://domain1.com/page1": ["http://domain2.com/"],
        "http://domain1.com/page2": [],
        "http://domain2.com/": ["http://domain2.com/deep"],
        "http://domain2.com/deep": [],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(
        eager=True
    )

    # batch loop
    seeds = spark.createDataFrame([("http://domain1.com/", 1.0)], ["url", "score"])
    batch = crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=8))
    a = {r["url"]: r.asDict() for r in batch.crawl_state.collect()}

    # streaming wrapper, same seed via the seed DataSource
    seed_file = tmp_path / "seeds.txt"
    seed_file.write_text("http://domain1.com/\n")
    state_dir = str(tmp_path / "state")
    q = continuous_crawl(
        spark,
        seed_path=str(seed_file),
        pages=pages,
        state_dir=state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=CrawlConfig(collect_stats=False),
        ticks_per_batch=8,
        available_now=False,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    tick = int(open(os.path.join(state_dir, "_LATEST")).read().split()[0])
    state = spark.read.parquet(os.path.join(state_dir, f"state_t{tick}"))
    b = {r["url"]: r.asDict() for r in state.collect()}
    assert a == b
    assert b["http://domain2.com/deep"]["status"] == "FETCHED"


def test_streaming_crawl_with_bucketed_state_table(spark, tmp_path):
    """The 100 TB deployment shape end-to-end: streaming seed source +
    BUCKETED catalog state table. Converges to the same state as the
    batch loop, the table survives as the durable URL DB, and a second
    drain of the same stream is a no-op (idempotent seed re-merge)."""
    from flink_crawler_spark.operators.state_table import load_bucketed_state
    from flink_crawler_spark.plans.crawl_loop import crawl

    adjacency = {
        "http://t1.com/": ["http://t1.com/a"],
        "http://t1.com/a": ["http://t2.com/"],
        "http://t2.com/": [],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(
        eager=True
    )
    seeds = spark.createDataFrame([("http://t1.com/", 1.0)], ["url", "score"])
    batch = crawl(
        spark, seeds, pages=pages,
        config=CrawlConfig(max_ticks=6, collect_stats=False),
    )
    want = {r["url"]: r.asDict() for r in batch.crawl_state.collect()}

    seed_file = tmp_path / "seeds.txt"
    seed_file.write_text("http://t1.com/\n")
    table = "crawl_stream_table_test"
    try:
        q = continuous_crawl(
            spark,
            seed_path=str(seed_file),
            pages=pages,
            state_table=table,
            checkpoint_dir=str(tmp_path / "ckpt"),
            config=CrawlConfig(collect_stats=False),
            ticks_per_batch=6,
            available_now=False,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["url"]: r.asDict() for r in load_bucketed_state(spark, table).collect()}
        assert got == want
        assert got["http://t2.com/"]["status"] == "FETCHED"
    finally:
        for t_ in (table, f"{table}__old", f"{table}__staging"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")


def _ingest_by_full_merge(spark, seeds, table, *, now_ms, buckets):
    """Seed ingestion as a full-table merge: fold the batch into the live
    state through the crash-safe swap, keeping the marker and the clock
    (the layout's reference semantics for a pending-seed batch)."""
    from flink_crawler_spark.operators.merge import merge_crawl_state
    from flink_crawler_spark.operators.state_table import (
        get_state_now_ms,
        get_state_tick,
        save_bucketed_state,
        set_state_tick,
        tick_merge_bucketed,
    )
    from flink_crawler_spark.plans.crawl_loop import clean_urls, seeds_to_state

    obs = seeds_to_state(clean_urls(seeds), now_ms=now_ms)
    if not spark.catalog.tableExists(table):
        save_bucketed_state(merge_crawl_state(obs), table, buckets=buckets)
        set_state_tick(spark, table, 0, now_ms=now_ms)
        return 0
    tick, stored = get_state_tick(spark, table), get_state_now_ms(spark, table)
    tick_merge_bucketed(spark, table, obs, buckets=buckets, tick=tick, now_ms=stored)
    return tick


def test_streamed_log_mode_crawl_equals_ingest_then_crawl(spark, tmp_path):
    """Seeds streamed in micro-batches as pending-seed directories (log
    mode, compaction inside the run) end in the same URL DB as ingesting
    each batch by a full-table merge and then crawling the same ticks."""
    from dataclasses import replace

    from flink_crawler_spark.operators.state_table import read_state_log
    from flink_crawler_spark.plans.crawl_loop import crawl

    adjacency = {
        "http://p1.com/": ["http://p1.com/a", "http://p2.com/"],
        "http://p1.com/a": ["http://p3.com/"],
        "http://p2.com/": ["http://p2.com/b"],
        "http://p2.com/b": [],
        "http://p3.com/": ["http://p1.com/"],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(
        eager=True
    )
    seeds = ["http://p1.com/", "http://p2.com/b", "http://p1.com/"]  # a repeat: scores sum
    cfg = CrawlConfig(collect_stats=False, state_log_every=3)
    streamed, merged = "stream_pending_test", "stream_fullmerge_test"
    start_ms, ticks = 1_700_000_000_000, 2
    try:
        for t_ in (streamed, merged):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
        seed_file = tmp_path / "seeds.txt"
        seed_file.write_text("\n".join(seeds) + "\n")
        q = continuous_crawl(
            spark,
            seed_path=str(seed_file),
            pages=pages,
            state_table=streamed,
            state_buckets=4,
            checkpoint_dir=str(tmp_path / "ckpt"),
            config=cfg,
            ticks_per_batch=ticks,
            seeds_per_batch=1,
            available_now=False,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        empty = spark.createDataFrame([], "url string, score double")
        for url in seeds:
            exists = spark.catalog.tableExists(merged)
            from flink_crawler_spark.operators.state_table import get_state_now_ms, get_state_tick

            tick = get_state_tick(spark, merged) if exists else 0
            now = get_state_now_ms(spark, merged) if exists else start_ms
            batch = spark.createDataFrame([(url, None)], "url string, score double")
            _ingest_by_full_merge(spark, batch, merged, now_ms=now, buckets=4)
            crawl(
                spark, empty, pages=pages, start_ms=start_ms,
                config=replace(
                    cfg, state_table=merged, state_buckets=4,
                    max_ticks=tick + ticks, trace=False,
                ),
            )
        got = {r["url"]: r.asDict() for r in read_state_log(spark, streamed).collect()}
        want = {r["url"]: r.asDict() for r in read_state_log(spark, merged).collect()}
        assert got == want
        assert got["http://p3.com/"]["status"] == "FETCHED"
    finally:
        for t_ in (streamed, merged):
            for s_ in ("", "__old", "__staging"):
                spark.sql(f"DROP TABLE IF EXISTS {t_}{s_}")

"""Durable crawl state: interrupt + resume equals an uninterrupted run —
in the same process, and in a new one (the session catalog is in-memory,
so a new process has only the state log's root directory)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.sources.fixtures import render_pages, web_graph_from_adjacency


def chain_graph(spark, n=5):
    adjacency = {f"http://c.com/p{i}": [f"http://c.com/p{i+1}"] for i in range(n)}
    adjacency[f"http://c.com/p{n}"] = []
    return render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)


def state_of(res):
    return sorted((r["url"], r["status"], r["score"]) for r in res.crawl_state.collect())


def test_resume_reproduces_uninterrupted_run(spark, tmp_path):
    pages = chain_graph(spark)
    seeds = spark.createDataFrame([("http://c.com/p0", 1.0)], ["url", "score"])

    # uninterrupted reference run (chain of 6 pages -> 7 ticks max)
    full = crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=8, trace=False))

    # interrupted run: stop after 2 ticks, then resume from disk
    sd = str(tmp_path / "state")
    os.makedirs(sd)
    part1 = crawl(
        spark, seeds, pages=pages,
        config=CrawlConfig(max_ticks=2, trace=False, state_dir=sd),
    )
    assert part1.ticks == 2
    assert "commit_" in " ".join(os.listdir(sd))

    part2 = crawl(
        spark, seeds, pages=pages,  # seeds ignored on resume
        config=CrawlConfig(max_ticks=8, trace=False, state_dir=sd),
    )
    assert part2.ticks > 2  # picked up at tick 3, not from scratch
    assert state_of(part2) == state_of(full)


def test_resume_skips_seeding(spark, tmp_path):
    pages = chain_graph(spark, n=2)
    seeds = spark.createDataFrame([("http://c.com/p0", 1.0)], ["url", "score"])
    sd = str(tmp_path / "state2")
    os.makedirs(sd)
    crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=1, trace=False, state_dir=sd))

    # resume with DIFFERENT seeds — they must not re-enter (state wins)
    other = spark.createDataFrame([("http://c.com/other", 1.0)], ["url", "score"])
    res = crawl(spark, other, pages=pages, config=CrawlConfig(max_ticks=6, trace=False, state_dir=sd))
    urls = {r["url"] for r in res.crawl_state.collect()}
    assert "http://c.com/other" not in urls
    assert "http://c.com/p0" in urls


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One refetch crawl of a one-page web on a state_table, run in its own
# process: argv = (warehouse, max_ticks, kill). With kill set, the process
# exits right after the commit of the first refetch-sleep tick (an empty
# frontier whose committed clock is the jump). Prints the final state,
# ticks and stats as one JSON line.
REFETCH_CRAWL = """
import json, os, sys
from flink_crawler_spark.plans import state_backend
from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.session import get_spark
from flink_crawler_spark.sources.fixtures import render_pages, web_graph_from_adjacency

max_ticks, kill = int(sys.argv[1]), sys.argv[2] == "kill"
spark = get_spark("restart-test", cpus=2)
if kill:
    append = state_backend.tick_append_log

    def append_then_exit(*a, now_ms, **k):
        m = append(*a, now_ms=now_ms, **k)
        if m.clock > 1_700_000_000_000 + m.tick * 100_000:  # the sleep jump committed
            print(json.dumps({"killed_at": m.tick, "clock": m.clock}), flush=True)
            os._exit(0)
        return m

    state_backend.tick_append_log = append_then_exit
pages = render_pages(web_graph_from_adjacency(spark, {"http://solo.com/": []}))
seeds = spark.createDataFrame([("http://solo.com/", 1.0)], "url string, score double")
cfg = CrawlConfig(
    max_ticks=max_ticks, state_table="refetch_restart", state_buckets=4, trace=False,
    refetch=True, refetch_interval_ms=5_000_000, tick_ms=100_000,
)
res = crawl(spark, seeds, pages=pages, config=cfg)
state = sorted(tuple(r) for r in res.crawl_state.collect())
print(json.dumps({"state": state, "ticks": res.ticks, "stats": res.stats}), flush=True)
"""


def _run(args: list[str], cwd, warehouse=None) -> dict:
    """Run ``args`` in a new Python process (its own Spark session) and
    return its last stdout line as JSON."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g")
    if warehouse is not None:
        env["SPARK_GRAFT_EXTRA_CONF"] = f"spark.sql.warehouse.dir={warehouse}"
    out = subprocess.run(
        [sys.executable, *args], cwd=cwd, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_refetch_crawl_killed_after_a_sleep_tick_resumes_in_a_new_process(tmp_path):
    """A refetch crawl on a state_table, killed (os._exit) right after it
    commits a refetch-sleep tick, resumed by a second process from the
    same root: the jumped clock is kept, and the crawl ends with the same
    state, ticks and stats as an uninterrupted run (the stats entries the
    killed process had finalized are its own)."""
    once = _run(["-c", REFETCH_CRAWL, "6", "-"], tmp_path, tmp_path / "wh_once")
    killed = _run(["-c", REFETCH_CRAWL, "6", "kill"], tmp_path, tmp_path / "wh")
    assert killed["killed_at"] == 2  # tick 1 fetches the page, tick 2 sleeps
    resumed = _run(["-c", REFETCH_CRAWL, "6", "-"], tmp_path, tmp_path / "wh")
    assert resumed["state"] == once["state"]
    assert resumed["ticks"] == once["ticks"] == 6
    assert resumed["stats"] == [s for s in once["stats"] if s["tick"] > killed["killed_at"]]
    assert resumed["stats"]  # the refetches after the kill were counted


def test_cli_checkpointdir_resumes_in_a_new_process(spark, tmp_path):
    """A CLI crawl with --checkpointdir stopped after two ticks and rerun
    in a second process with the same directory ends in the same state
    as one uninterrupted crawl."""
    adjacency = {f"http://c.com/p{i}": [f"http://c.com/p{i+1}"] for i in range(5)}
    adjacency["http://c.com/p5"] = []
    pages_path = str(tmp_path / "pages.parquet")
    render_pages(web_graph_from_adjacency(spark, adjacency)).write.parquet(pages_path)
    seed_file = tmp_path / "seeds.txt"
    seed_file.write_text("http://c.com/p0\n")
    ckpt = str(tmp_path / "ckpt")
    cli = [
        "-m", "flink_crawler_spark.cli", "--seedurls", str(seed_file), "--pages", pages_path,
        "--checkpointdir", ckpt, "--parallelism", "2",
    ]
    for ticks in (2, 8):
        out = subprocess.run(
            [sys.executable, *cli, "--maxticks", str(ticks), "--stateout", str(tmp_path / f"out{ticks}")],
            cwd=tmp_path, env=dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="1g"),
            capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
    assert "crawl finished: 2 ticks" not in out.stdout  # the second run went on
    seeds = spark.createDataFrame([("http://c.com/p0", 1.0)], ["url", "score"])
    pages = spark.read.parquet(pages_path)
    full = crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=8, trace=False))
    want = {r["url"]: r.asDict() for r in full.crawl_state.collect()}
    got = {r["url"]: r.asDict() for r in spark.read.parquet(str(tmp_path / "out8")).collect()}
    assert got == want
    assert {r["status"] for r in got.values()} == {"FETCHED"}

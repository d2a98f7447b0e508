"""r7 shared infrastructure: bounded window-free helpers, memoized
family builders, and the stream-replay session clone.

These pins guard the round-7 refactors: the triangular-join cumulative
helpers must stay bit-identical to the Window semantics they replaced
(six oracled queries now ride them), the memoized builders must hand
every consumer the SAME materialization, and the stream session clone
must never leak its shuffle-partition setting into the caller's session
(the round-6 ADVICE hazard the clone exists to remove).

The builders share one memo (``queries.base.memo``): its store is what
``clear_query_caches`` empties and what the benchmark's tracer
(``perfbench/tracing.py`` ``MEMO_FUNCS``) reads to tell a hit from a
miss, so both contracts are pinned here.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_crawler_spark.operators.windows import (
    bounded_cumsum,
    bounded_row_number,
)


def _frame(spark, n=97):
    # duplicate order-values (v has ties) force the unique tiebreaker k
    rows = [(i, float((i * 7) % 13), ((i * 31) % n) / 10) for i in range(n)]
    return spark.createDataFrame(rows, "k long, v double, d double")


def test_bounded_row_number_matches_window(spark):
    df = _frame(spark)
    for order, wspec in [
        ([("v", False), ("k", True)], [F.desc("v"), F.asc("k")]),
        ([("d", True), ("v", False), ("k", True)], [F.asc("d"), F.desc("v"), F.asc("k")]),
    ]:
        got = bounded_row_number(df, order, out="rn").select("k", "rn")
        want = df.select(
            "k", F.row_number().over(Window.orderBy(*wspec)).cast("long").alias("rn")
        )
        assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_bounded_cumsum_matches_window_inclusive_exclusive_and_count(spark):
    df = _frame(spark).withColumn("dec", F.round("v", 1).cast("decimal(18,1)"))
    order = [("d", True), ("k", True)]
    w = Window.orderBy(F.asc("d"), F.asc("k"))
    wi = w.rowsBetween(Window.unboundedPreceding, 0)
    we = w.rowsBetween(Window.unboundedPreceding, -1)
    got = bounded_cumsum(
        df, order, [("dec", "ci", True), ("dec", "ce", False)], count_out="cnt"
    ).select("k", "ci", F.coalesce(F.col("ce"), F.lit(0).cast("decimal(18,1)")).alias("ce"), "cnt")
    want = df.select(
        "k",
        F.sum("dec").over(wi).alias("ci"),
        F.coalesce(F.sum("dec").over(we), F.lit(0).cast("decimal(18,1)")).alias("ce"),
        F.count(F.lit(1)).over(wi).cast("long").alias("cnt"),
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_bounded_helpers_emit_no_window_exec(spark):
    df = _frame(spark, 31)
    for frame in (
        bounded_row_number(df, [("v", False), ("k", True)]),
        bounded_cumsum(df, [("k", True)], [("v", "cv", True)]),
    ):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan, plan[:500]


def test_shingle_tables_memoized_per_session_and_corpus(spark, sf_dir):
    from flink_crawler_spark.queries.base import shingle_tables

    s1, e1 = shingle_tables(spark, sf_dir, 3)
    s2, e2 = shingle_tables(spark, sf_dir, 3)
    assert s1 is s2 and e1 is e2, "same (session, corpus, n) must hit the cache"
    s4, _ = shingle_tables(spark, sf_dir, 4)
    assert s4 is not s1, "different n is a different table"
    # the sets table matches a from-scratch shingle computation exactly
    from flink_crawler_spark.operators.dedup import shingles_expr
    from flink_crawler_spark.queries.base import t

    fresh = t(spark, sf_dir, "documents").select(
        "doc_id", F.array_sort(shingles_expr(F.col("text"), 3)).alias("sh")
    )
    assert s1.subtract(fresh).count() == 0 and fresh.subtract(s1).count() == 0


def test_near_dup_clusters_memoized(spark, sf_dir):
    from flink_crawler_spark.queries import REGISTRY
    from flink_crawler_spark.queries.dedupq import near_dup_clusters

    c1 = near_dup_clusters(spark, sf_dir)
    c2 = near_dup_clusters(spark, sf_dir)
    assert c1 is c2
    # the registered query is the memoized builder itself
    assert REGISTRY["near_dup_clusters"].fn is near_dup_clusters


def _memo_funcs() -> dict[str, tuple[str, str, str]]:
    """The tracer's builder table, read from perfbench/tracing.py."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "tracing.py")
    spec = importlib.util.spec_from_file_location("_perfbench_tracing", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.MEMO_FUNCS


def test_clear_query_caches_empties_every_builder_store(spark, sf_dir):
    from flink_crawler_spark.queries.base import (
        _TABLE_HANDLE_CACHE,
        BUILDERS,
        clear_query_caches,
        parquet_row_count,
        shingle_tables,
    )

    shingle_tables(spark, sf_dir)
    parquet_row_count(sf_dir, "embeddings")
    assert shingle_tables.cache and parquet_row_count.cache and _TABLE_HANDLE_CACHE
    clear_query_caches()
    assert {name: len(b.cache) for name, b in BUILDERS.items()} == dict.fromkeys(BUILDERS, 0)
    # the lazy scan handles hold no data and are not a builder's store
    assert _TABLE_HANDLE_CACHE


def test_tracer_memo_table_matches_the_builders(spark, sf_dir):
    """Every (module, function, store) the tracer names resolves to a
    registered builder and its own store, which grows by one on a miss
    and not at all on a hit."""
    import importlib

    from flink_crawler_spark.queries.base import BUILDERS, clear_query_caches

    funcs = _memo_funcs()
    assert len(funcs) == len(BUILDERS)
    for builder, (module, func, store) in funcs.items():
        mod = importlib.import_module(module)
        fn, cache = getattr(mod, func), getattr(mod, store)
        assert BUILDERS[builder] is fn and fn.cache is cache, builder
        args = (sf_dir, "embeddings") if builder == "parquet_row_count" else (spark, sf_dir)
        clear_query_caches()  # a builder may build another as its input
        first = fn(*args)
        assert len(cache) == 1, builder
        assert fn(*args) is first and len(cache) == 1, builder


def test_memo_key_applies_defaults(spark, sf_dir):
    from flink_crawler_spark.queries.base import shingle_tables

    shingle_tables.cache.clear()
    a = shingle_tables(spark, sf_dir)
    assert shingle_tables(spark, sf_dir, 3) is a
    assert shingle_tables(spark, sf_dir=sf_dir, n=3) is a
    assert len(shingle_tables.cache) == 1


def test_memo_key_leaves_dataframe_arguments_out(spark, sf_dir):
    """ann_recall_report hands the IVF builder its own normalized frame,
    ann_topk_ivf does not: both must get the one training."""
    from flink_crawler_spark.queries.base import t
    from flink_crawler_spark.queries.simq import _ivf_exact_centroids_cached, _xn_frame

    _ivf_exact_centroids_cached.cache.clear()
    xn = _xn_frame(t(spark, sf_dir, "embeddings").repartition(4)).localCheckpoint(eager=True)
    cent = _ivf_exact_centroids_cached(spark, sf_dir, xn)
    assert _ivf_exact_centroids_cached(spark, sf_dir) is cent
    assert len(_ivf_exact_centroids_cached.cache) == 1


def test_stream_session_isolates_shuffle_partitions(spark):
    from flink_crawler_spark.queries.streamq import _stream_session

    before = spark.conf.get("spark.sql.shuffle.partitions")
    clone = _stream_session(spark)
    assert clone is not spark
    assert clone.conf.get("spark.sql.shuffle.partitions") == "4"
    # caller session untouched, clone cached, timezone carried over
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert _stream_session(spark) is clone
    assert clone.conf.get("spark.sql.session.timeZone") == spark.conf.get(
        "spark.sql.session.timeZone"
    )


def test_bounded_helpers_null_keys_match_window(spark):
    """r7 review: NULL order keys must follow Spark's Window ordering
    (asc = NULLS FIRST, desc = NULLS LAST) — not vanish from the cumsum
    or collapse to duplicate rank 1."""
    rows = [(1, None), (2, 3.0), (3, 1.0), (4, None), (5, 2.0)]
    df = spark.createDataFrame(rows, "k long, v double")

    for asc in (True, False):
        order = [("v", asc), ("k", True)]
        wspec = [(F.asc("v") if asc else F.desc("v")), F.asc("k")]
        w = Window.orderBy(*wspec)
        got = bounded_row_number(df, order, out="rn").select("k", "rn")
        want = df.select("k", F.row_number().over(w).cast("long").alias("rn"))
        assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0

        wi = w.rowsBetween(Window.unboundedPreceding, 0)
        got2 = bounded_cumsum(df, order, [("k", "ck", True)], count_out="cnt").select(
            "k", "ck", "cnt"
        )
        want2 = df.select(
            "k",
            F.sum("k").over(wi).alias("ck"),
            F.count(F.lit(1)).over(wi).cast("long").alias("cnt"),
        )
        assert got2.subtract(want2).count() == 0 and want2.subtract(got2).count() == 0


def test_bounded_helpers_property_random_frames(spark):
    """Property pin: on arbitrary frames (ties, negatives, NULLs, empty),
    the triangular-join helpers equal the Window they replace. Driven by
    seeded random cases rather than hypothesis' runner — each case costs
    two Spark jobs, so a fixed bounded corpus keeps the suite fast while
    still covering the tie/NULL/singleton edges."""
    import random

    rng = random.Random(20260815)
    for case in range(6):
        n = rng.choice([1, 2, 7, 23])
        rows = [
            (
                i,
                None if rng.random() < 0.2 else float(rng.randint(-3, 3)),
                rng.randint(0, 2),
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "k long, v double, g long")
        asc = case % 2 == 0
        order = [("v", asc), ("g", True), ("k", True)]
        wspec = [
            (F.asc("v") if asc else F.desc("v")),
            F.asc("g"),
            F.asc("k"),
        ]
        w = Window.orderBy(*wspec)
        got = bounded_row_number(df, order, out="rn").select("k", "rn")
        want = df.select("k", F.row_number().over(w).cast("long").alias("rn"))
        assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0, (
            case,
            rows,
        )
        wi = w.rowsBetween(Window.unboundedPreceding, 0)
        got2 = bounded_cumsum(
            df, order, [("g", "cg", True), ("g", "ce", False)], count_out="cnt"
        ).select("k", "cg", F.coalesce("ce", F.lit(0)).alias("ce"), "cnt")
        want2 = df.select(
            "k",
            F.sum("g").over(wi).alias("cg"),
            F.coalesce(
                F.sum("g").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("ce"),
            F.count(F.lit(1)).over(wi).cast("long").alias("cnt"),
        )
        assert got2.subtract(want2).count() == 0 and want2.subtract(got2).count() == 0, (
            case,
            rows,
        )

"""URL-DB merge lattice as a set-based aggregation.

Reference: ``urldb/DefaultUrlStateMerger.java:18-61`` (pairwise merge) and
``functions/UrlDBFunction.java:419-528`` (upsert into keyed MapState).

The pairwise lattice generalizes associatively to an n-way fold:

* all observations UNFETCHED  -> status   = UNFETCHED
                                 score    = SUM(score)       (link-score accumulation)
                                 status_time     = MAX(status_time)
                                 next_fetch_time = MIN(next_fetch_time)
* any non-UNFETCHED           -> the non-UNFETCHED row with the greatest
                                 status_time wins outright. Exact-timestamp
                                 ties break by the FetchStatus merge
                                 priority the reference declares for this
                                 purpose (pojos/FetchStatus.java:54-57 —
                                 its merger leaves arrival-order
                                 non-determinism; we apply the declared
                                 priority, then status/score/nft for a
                                 total deterministic order).

Spark-first design: ONE hash aggregation (``groupBy(url)``) with a
struct-max argmax — a single shuffle on the merge key, map-side partial
aggregation for free, no join, no UDF. At 100 TB this is the exact shape
you want: AQE coalesces post-shuffle partitions and skewed PLDs don't
matter because the key is the URL.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import FETCH_STATUS_PRIORITY

UNFETCHED = "UNFETCHED"


def _prio_sql(status: str) -> str:
    """FetchStatus merge priority (pojos/FetchStatus.java:22-57) as SQL;
    unknown statuses behave like the 50-class."""
    whens = " ".join(f"WHEN '{s}' THEN {p}" for s, p in FETCH_STATUS_PRIORITY.items() if p != 50)
    return f"CASE {status} {whens} ELSE 50 END"

#: columns a crawl-state observation must carry
OBS_COLS = ("url", "pld", "status", "status_time", "score", "next_fetch_time")


def _uf(col: Column) -> Column:
    return F.when(F.col("status") == UNFETCHED, col)


@lru_cache(maxsize=1)
def _merge_agg_cols() -> tuple[Column, ...]:
    """The (static) aggregation columns of the merge lattice, built ONCE
    per process. The crawl loop calls merge_crawl_state every tick, and
    rebuilding this Column tree (nested whens for the status priority,
    the argmax struct) cost ~0.17 s of py4j round-trips per call —
    measured as a top-3 contributor to the loop's fixed per-tick cost
    (r12, guide §1.2). Unresolved Column trees are immutable Catalyst
    expression objects: reusing one across plans/sessions in the same
    JVM is safe; only a JVM restart (never in-process) would invalidate
    the cache."""
    winner = F.max(
        F.when(
            F.col("status") != UNFETCHED,
            F.struct(
                F.col("status_time"),
                F.expr(_prio_sql("status")).alias("prio"),
                F.col("status"),
                F.col("score"),
                F.col("next_fetch_time"),
            ),
        )
    ).alias("w")
    return (
        F.min("pld").alias("pld"),
        winner,
        F.sum(_uf(F.col("score"))).alias("uf_score"),
        F.max(_uf(F.col("status_time"))).alias("uf_time"),
        F.min(_uf(F.col("next_fetch_time"))).alias("uf_nft"),
    )


@lru_cache(maxsize=1)
def _merge_out_cols() -> tuple[Column, ...]:
    """Static output projection of the merge lattice (see _merge_agg_cols)."""
    has_w = F.col("w").isNotNull()
    return (
        F.col("url"),
        F.col("pld"),
        F.when(has_w, F.col("w.status")).otherwise(F.lit(UNFETCHED)).alias("status"),
        F.when(has_w, F.col("w.status_time")).otherwise(F.col("uf_time")).alias("status_time"),
        F.when(has_w, F.col("w.score")).otherwise(F.col("uf_score")).alias("score"),
        F.when(has_w, F.col("w.next_fetch_time")).otherwise(F.col("uf_nft")).alias("next_fetch_time"),
    )


def merge_crawl_state(observations: DataFrame) -> DataFrame:
    """Fold any number of per-URL observations into one merged row per URL.

    Input columns: ``OBS_COLS``; output: same columns, one row per url.
    """
    agg = observations.groupBy("url").agg(*_merge_agg_cols())
    return agg.select(*_merge_out_cols())


def merge_updates(state: DataFrame, updates: DataFrame) -> DataFrame:
    """One crawl-loop tick: fold new observations into the persisted URL DB.

    ``unionByName`` then one merge aggregation — the set-based equivalent
    of the reference's per-record MapState upsert
    (``UrlDBFunction.java:466-527``). Exactly-once by construction (the
    state table is the checkpoint), which is *stronger* than the
    reference's AT_LEAST_ONCE-with-loss caveat
    (``topology/CrawlTopology.java:21-28``).
    """
    cols = list(OBS_COLS)
    return merge_crawl_state(state.select(*cols).unionByName(updates.select(*cols)))


@lru_cache(maxsize=1)
def _join_merge_exprs() -> tuple[str, ...]:
    """merge_updates_join's output projection as SQL strings, built once
    per process. The Column form cost 1,335 py4j calls and 0.23-0.28 s
    per state-view build; this form 106 calls and 0.10-0.13 s (4-core
    host, steady state)."""

    def rank(side: str) -> str:
        # total merge order for non-UNFETCHED rows: status_time, the
        # declared FetchStatus priority, then status/score/nft for
        # determinism (the same order merge_crawl_state's argmax uses)
        return (
            f"named_struct('status_time', {side}.status_time, 'prio', {_prio_sql(side + '.status')}, "
            f"'status', {side}.status, 'score', {side}.score, 'next_fetch_time', {side}.next_fetch_time)"
        )

    def pick(field: str, both_uf: str) -> str:
        return (
            f"CASE WHEN u.status IS NULL THEN s.{field} WHEN s.status IS NULL THEN u.{field} "
            f"WHEN s.status = '{UNFETCHED}' AND u.status = '{UNFETCHED}' THEN {both_uf} "
            f"WHEN s.status = '{UNFETCHED}' THEN u.{field} "  # non-UNFETCHED update wins
            f"WHEN u.status = '{UNFETCHED}' THEN s.{field} "  # non-UNFETCHED state survives
            f"WHEN {rank('s')} >= {rank('u')} THEN s.{field} ELSE u.{field} END AS {field}"
        )

    return (
        "url",
        "coalesce(s.pld, u.pld) AS pld",
        pick("status", f"'{UNFETCHED}'"),
        pick("status_time", "greatest(s.status_time, u.status_time)"),
        pick("score", "s.score + u.score"),
        pick("next_fetch_time", "least(s.next_fetch_time, u.next_fetch_time)"),
    )


def merge_updates_join(state: DataFrame, updates: DataFrame) -> DataFrame:
    """Tick merge as a JOIN against the state table instead of a union
    re-aggregation — the 100 TB shape for a bucketed URL DB.

    ``merge_updates`` shuffles (state ∪ updates) on every tick; fine
    when state fits the shuffle tier, wrong once the URL DB is tens of
    TB. Here the per-tick delta (small) is folded to one row per url by
    ``merge_crawl_state`` and pair-merged into state via a full-outer
    join on the key. When ``state`` is a table bucketed+sorted by
    ``url`` (operators/state_table.py), the join plans as a bucket-local
    sort-merge join: the ONLY Exchange in the plan is the delta's
    (asserted in tests/test_bucketed_state.py).

    The pairwise combine is exactly the lattice
    (urldb/DefaultUrlStateMerger.java:18-61): associativity of the
    n-way fold makes pre-aggregating the delta safe — UNFETCHED scores
    sum, any non-UNFETCHED winner beats all UNFETCHED contributions,
    two winners compare by the same total order the argmax uses.
    """
    u = merge_crawl_state(updates.select(*OBS_COLS))
    j = state.select(*OBS_COLS).alias("s").join(u.alias("u"), "url", "full_outer")
    return j.selectExpr(*_join_merge_exprs())

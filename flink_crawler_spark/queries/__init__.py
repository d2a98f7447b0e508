"""Declared query registry — the correctness gate.

Every operator claimed in SURVEY.md §2 (plus the training-data-pipeline
extensions) is exercised here as a (Spark callable, DuckDB oracle SQL)
pair over the driver's star-schema testdata. The driver compares
row-count + schema + order-insensitive value hash at sf=0.01.

Queries with ``oracle=None`` are non-SQL-expressible (streaming state,
LSH approximations whose candidate sets are engine-internal) and get the
weaker rows-only check.
"""

from __future__ import annotations

from .base import REGISTRY, QueryPair, register  # noqa: F401

# import for registration side effects
from . import core  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import tpch2  # noqa: E402,F401
from . import analytics  # noqa: E402,F401
from . import urlq  # noqa: E402,F401
from . import textops  # noqa: E402,F401
from . import dedupq  # noqa: E402,F401
from . import simq  # noqa: E402,F401
from . import streamq  # noqa: E402,F401
from . import crawlq  # noqa: E402,F401
from . import multimodalq  # noqa: E402,F401
from . import sketchq  # noqa: E402,F401
from . import analytics2  # noqa: E402,F401
from . import sqlbreadth  # noqa: E402,F401
from . import sourcesq  # noqa: E402,F401
from . import pipelineq  # noqa: E402,F401
from . import pipelineq2  # noqa: E402,F401
from . import pipelineq3  # noqa: E402,F401
from . import textops2  # noqa: E402,F401
from . import streamq2  # noqa: E402,F401
from . import extq  # noqa: E402,F401
from . import pipelineq4  # noqa: E402,F401
from . import pipelineq5  # noqa: E402,F401
from . import pipelineq6  # noqa: E402,F401
from . import pipelineq7  # noqa: E402,F401
from . import pipelineq8  # noqa: E402,F401
from . import pipelineq9  # noqa: E402,F401
from . import pipelineq10  # noqa: E402,F401
from . import pipelineq11  # noqa: E402,F401
from . import pipelineq12  # noqa: E402,F401
from . import pipelineq13  # noqa: E402,F401
from . import pipelineq14  # noqa: E402,F401
from . import pipelineq15  # noqa: E402,F401
from . import pipelineq16  # noqa: E402,F401
from . import pipelineq17  # noqa: E402,F401
from . import pipelineq18  # noqa: E402,F401
from . import pipelineq19  # noqa: E402,F401
from . import pipelineq20  # noqa: E402,F401
from . import pipelineq21  # noqa: E402,F401
from . import pipelineq22  # noqa: E402,F401
from . import pipelineq23  # noqa: E402,F401
from . import pipelineq24  # noqa: E402,F401
from . import pipelineq25  # noqa: E402,F401
from . import pipelineq26  # noqa: E402,F401
from . import pipelineq27  # noqa: E402,F401
from . import pipelineq28  # noqa: E402,F401
from . import pipelineq29  # noqa: E402,F401
from . import pipelineq30  # noqa: E402,F401
from . import pipelineq31  # noqa: E402,F401
from . import pipelineq32  # noqa: E402,F401


# The driver's CORRECTNESS check covers the first 50 queries in the order
# `queries()` yields them (round-1 verdict: positions 1-50 only).  Emit a
# curated window first so the hard driver signal lands on one-or-more
# representatives of EVERY SURVEY §2 family (normalize/validate/robots/
# parse/sitemap/CDX/crawl-loop/merge/frontier/windows/politeness/joins/
# streaming) and every LLM-pipeline family (dedup, similarity, text,
# multimodal, sketch, sources).  Everything else follows in registration
# order and is still verified by bench + pytest.
PRIORITY_WINDOW = [
    # --- durable-log rotation: stupid_backoff_score's joins lost their
    # forced broadcast hints (the planner sizes c2/c1/nd from their
    # checkpoints); the crawl loop's durable state is one bucketed state
    # log with a commit marker, bucketed_state_merge writes and commits a
    # new base through it, and crawl_reachability / _rcte run the loop.
    # Value-oracled at sf0.001 + sf0.01.
    "stupid_backoff_score",       # planner-sized broadcasts
    "bucketed_state_merge",       # tick_merge_bucketed: base + commit
    "crawl_reachability",         # the crawl loop
    "crawl_reachability_rcte",    # the crawl loop's recursive-CTE twin
    # --- codegen rotation: the language detector's script label is built
    # from count columns and its routing class rides in the trigram join
    # key, so every stage compiles under whole-stage codegen (it fell back
    # to interpreted evaluation). Value-oracled at sf0.001 + sf0.01.
    "doc_lang_id",                # functions/lang.py detect_lang
    # --- memo rotation: the nine corpus-snapshot builders share one
    # memo (queries/base.py @memo, keyed on the call's arguments with
    # defaults applied, DataFrame arguments left out); one oracled
    # consumer per builder. Value-oracled at sf0.001 + sf0.01.
    "near_dup_threshold_sweep",   # shingle_tables
    "minhash_signatures",         # minhash_sigs
    "cross_source_contamination", # near_dup_verified_pairs
    "near_dup_keep_best",         # near_dup_clusters
    "frontier_topk",              # merged_crawl_state
    "pq_codebook_encode",         # _pq_core
    "ccnet_bigram_nll",           # bigram_nll_table
    "ann_topk_ivf",               # _ivf_exact_centroids_cached, no xn
    "ann_recall_report",          # _ivf_exact_centroids_cached, its xn
    "facility_location_select",   # parquet_row_count-gated driver fold
    # --- state-backend rotation: connected_components drops edges with
    # a NULL or non-node endpoint before its driver fold (curation_funnel
    # and near_dup_keep_best consume the clusters). Value-oracled at
    # sf0.001 + sf0.01.
    "curation_funnel",            # CC fold: node-only edge list
    # --- state-log rotation: the queries on a value path the plain-file
    # state log changed — merge_updates_join as one SQL projection
    # (bucketed_state_merge), the merge lattice's status priority as a
    # SQL CASE (every merged_crawl_state consumer), and the crawl loop's
    # bounded frontier-count read and mock_fetch column guard
    # (crawl_reachability). Each was value-oracled at sf0.001 + sf0.01.
    "crawl_merge_lattice",        # merge_crawl_state priority CASE
    "frontier_domain_quota",      # merged_crawl_state consumer
    "status_counts",              # merged_crawl_state consumer
    "domain_avg_of_avgs",         # merged_crawl_state consumer
    "frontier_fairness_gini",     # merged_crawl_state consumer
    "frontier_refetch_due",       # merged_crawl_state consumer
    # --- r13 rotation (second OPTIMIZATION round; changed-queries-first
    # rule, then least-recently-windowed). Slots 1-16: every query whose
    # value-producing code path changed this round — the crawl-loop
    # restructure (no-op window elimination, string-expr projections,
    # observation-based termination), the stupid-backoff join-tower
    # collapse (that query now heads the ntot rotation), the connected-
    # components driver fold + minhash array-HOF fusion and every
    # consumer of the re-derived family sigs/pairs/clusters memos. Each was individually value-oracled at sf0.001 +
    # sf0.01 when made; the window makes the driver re-prove them.
    "near_dup_clusters",          # CC driver fold
    "lsh_candidate_pairs",        # consumes the re-derived sigs memo
    "minhash_estimate_calibration",  # consumes sigs memo
    "excerpt_containment_pairs",  # consumes sigs memo
    "ngram_jaccard_pairs",        # consumes sigs memo
    "leakage_safe_split",         # consumes clusters memo
    "dedup_survivor_quality",     # consumes clusters memo
    "quality_dedup_calibration",  # consumes clusters memo
    # --- slots 17-50: the 34 least-recently-windowed queries (window
    # history recomputed from CORRECTNESS_r01..r12: the r5-vintage
    # quartet, then 30 of the 34 r6-vintage rows alphabetically —
    # systematic_pps_sample / temporal_split_embargo /
    # unpivot_priority_metrics / weekday_revenue_profile are the four
    # r6 rows left for a future rotation, all bench-green every round;
    # the memo rotation took the slots of the last five,
    # quartiles_one_pass .. softdedup_loss_weights, the codegen rotation
    # the slot of price_range_density, and the durable-log rotation the
    # slot of price_histogram_buckets).
    "pagerank_5iter",
    "quantity_bag_ops",
    "scd2_versioned_revenue",
    "segment_boilerplate_filter",
    "ccnet_perplexity_buckets",
    "cohort_retention_weekly",
    "corpus_token_stats",
    "corr_qty_price_exact",
    "customer_set_ops",
    "customer_snapshot_diff",
    "doc_meta_map_explode",
    "embedding_int8_quantize",
    "explode_outer_semantics",
    "funnel_view_click_purchase",
    "gap_fill_daily_revenue",
    "hierarchical_time_rollup",
    "hourly_weekday_heatmap",
    "incremental_mv_refresh",
    "ks_two_sample_price",
    "locf_fill_daily",
    "mad_price_by_flag",
    "maxsim_label_retrieval",
    "nullsafe_join_semantics",
    "order_quantity_hof",
    "order_rank_distributions",
    "pivot_priority_by_year",
    "poisson_bootstrap_ci",
]


def _ordered() -> dict[str, QueryPair]:
    missing = [n for n in PRIORITY_WINDOW if n not in REGISTRY]
    assert not missing, f"PRIORITY_WINDOW names not registered: {missing}"
    out = {n: REGISTRY[n] for n in PRIORITY_WINDOW}
    out.update((n, p) for n, p in REGISTRY.items() if n not in out)
    return out


def queries():
    return {name: pair.fn for name, pair in _ordered().items()}


def oracle_sql():
    return {name: pair.oracle for name, pair in _ordered().items() if pair.oracle is not None}

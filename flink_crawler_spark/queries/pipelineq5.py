"""Corpus-statistics wave 5: information-theoretic quality signals and
gate-composition analytics for the training-data pipeline.

  * doc_entropy_score — per-doc unigram Shannon entropy + type-token
    ratio WITHOUT a shuffle: token counts come from sorted-array run
    lengths (pure HOFs inside the scan), the repetitive/low-diversity
    signal every curation stack computes before training.
  * ccnet_bigram_nll — the CCNet-style language-model filter: score
    each doc by its average negative log-likelihood under an add-k
    smoothed corpus bigram model (CCNet uses KenLM perplexity; the
    bigram LM is its exactly-computable analogue).
  * filter_agreement_matrix — pairwise agreement counts between four
    independent quality gates; the dataset-assembly diagnostic that
    shows whether gates are redundant or orthogonal before stacking
    them into a funnel.
  * word_rank_curve — top-50 corpus words with frequency share and
    cumulative share (the Zipf head) via TakeOrdered, never a global
    sort.

All exact-value DuckDB oracles. Reference-semantics note: these extend
the LLM-pipeline surface (SURVEY.md §6); the crawler core they feed is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens_expr
from .base import memo, register, t

# single source of truth for the oracle token class — textops builds it
# from the same TOKEN_SPLIT_RE that functions/text.py::tokens_expr uses,
# so the Spark and DuckDB sides cannot drift
from .textops import DUCK_TOKS  # noqa: E402


def _run_stats(ws, n):
    """Word-histogram statistics of a SORTED token array — n_distinct,
    sum(c*ln c) over run lengths c, and the max run length — computed by
    ONE boundary-flag zip + ONE fold.

    CRITICAL perf rule (measured 30-100x): interpreted higher-order
    functions re-evaluate CAPTURED child expressions on every lambda
    invocation — `element_at(ws, i)` inside a filter lambda re-tokenizes
    and re-sorts the document PER ELEMENT (O(n) re-evals/row, ~20 ms/row
    on 60-token docs). Here every lambda touches only its own arguments
    and the accumulator; `ws` appears only as a direct child, evaluated
    O(1) times per row."""
    # flag = 1 at the END of each equal-run (next element differs / none)
    brk = F.zip_with(
        ws,
        F.concat(F.slice(ws, 2, n - 1), F.array(F.lit(None).cast("string"))),
        lambda a, b: F.when(b.isNull() | (a != b), 1).otherwise(0),
    )
    n_distinct = F.aggregate(brk, F.lit(0), lambda acc, f: acc + f)
    zero = F.struct(
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("slogs"),
        F.lit(0).cast("long").alias("maxc"),
    )

    def step(acc, f):
        run2 = acc["run"] + 1
        ended = f == 1
        return F.struct(
            F.when(ended, F.lit(0).cast("long")).otherwise(run2).alias("run"),
            F.when(
                ended, acc["slogs"] + run2.cast("double") * F.log(run2.cast("double"))
            )
            .otherwise(acc["slogs"])
            .alias("slogs"),
            F.when(ended & (run2 > acc["maxc"]), run2)
            .otherwise(acc["maxc"])
            .alias("maxc"),
        )

    fold = F.aggregate(brk, zero, step)
    return n_distinct, fold["slogs"], fold["maxc"]


# ---------------------------------------------------------------------------
# doc_entropy_score — shuffle-free unigram entropy
# ---------------------------------------------------------------------------


@register(
    "doc_entropy_score",
    oracle=f"""
WITH tk AS (SELECT doc_id, unnest({DUCK_TOKS}) AS w FROM documents),
c AS (SELECT doc_id, w, count(*) AS c FROM tk GROUP BY doc_id, w),
c2 AS (SELECT doc_id, c, CAST(sum(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS n FROM c),
agg AS (
  SELECT doc_id,
         CAST(max(n) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         round(-sum((c / n) * ln(c / n)), 6) AS entropy,
         round(CAST(count(*) AS DOUBLE) / max(n), 6) AS ttr
  FROM c2 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_distinct, 0) AS n_distinct,
       coalesce(a.entropy, 0.0) AS entropy,
       coalesce(a.ttr, 0.0) AS ttr
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
)
def doc_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram Shannon entropy (nats) and type-token ratio —
    low entropy / low TTR flags repetitive, template, or spam text
    (the repetition companion to gopher_quality_filter).

    100 TB shape: NO shuffle. The per-doc word histogram is computed
    inside the projection as run lengths of the SORTED token array (one
    boundary-flag zip + one fold — see _run_stats for the lambda-capture
    perf rule), so the whole query is one parallel scan — the corpus
    never explodes through an Exchange. Entropy uses the identity
    -sum((c/n) ln(c/n)) = ln(n) - sum(c ln c)/n so the fold needs no
    per-element reference to n. Empty docs pin a 0.0 sentinel on both
    engines."""
    d = t(spark, sf_dir, "documents")
    ws = F.array_sort(tokens_expr(F.col("text")))
    n = F.size(ws)
    n_distinct, slogs, _maxc = _run_stats(ws, n)
    nd = n.cast("double")
    entropy = F.log(nd) - slogs / nd
    has = n > 0
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.when(has, n_distinct).otherwise(0).cast("long").alias("n_distinct"),
        F.when(has, F.round(entropy, 6)).otherwise(0.0).alias("entropy"),
        F.when(has, F.round(n_distinct.cast("double") / nd, 6))
        .otherwise(0.0)
        .alias("ttr"),
    )


# ---------------------------------------------------------------------------
# ccnet_bigram_nll — corpus bigram LM score (CCNet perplexity analogue)
# ---------------------------------------------------------------------------

BG_K = 0.5  # add-k smoothing

# the bigram-LM CTE chain up to a per-doc `nll` CTE (doc_id, n_bigrams,
# avg_nll) — shared by ccnet_bigram_nll and the perplexity-bucket
# assignment in pipelineq6 (same model, different consumer)
BIGRAM_NLL_CTES = f"""tk AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, u.w1 AS w1, u.big AS big
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                      i -> struct_pack(w1 := toks[i],
                                       big := toks[i] || ' ' || toks[i + 1]))) AS u
        FROM tk WHERE len(toks) >= 2)
),
c1 AS (SELECT unnest(toks) AS w FROM tk),
uc AS (SELECT w, count(*) AS c FROM c1 GROUP BY w),
vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
bc AS (SELECT big, count(*) AS c FROM bg GROUP BY big),
nll AS (
  SELECT bg.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(-ln((bc.c + {BG_K}) / (uc.c + {BG_K} * vv.v))), 6) AS avg_nll
  FROM bg JOIN bc USING (big) JOIN uc ON uc.w = bg.w1 CROSS JOIN vv
  GROUP BY bg.doc_id
)"""


@memo
def bigram_nll_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM scores (doc_id, n_bigrams, avg_nll), computed
    once per (session, corpus) and memoized — ccnet_bigram_nll emits it
    directly and ccnet_perplexity_buckets ranks it; a production CCNet
    stage scores the corpus once and every downstream read reuses the
    table (the r7 shared-builder pattern, like queries/base.py
    shingle_tables)."""
    return doc_bigram_nll(t(spark, sf_dir, "documents")).localCheckpoint(eager=True)


_BIGRAM_NLL_CACHE = bigram_nll_table.cache


def doc_bigram_nll(d: DataFrame) -> DataFrame:
    """Per-doc average NLL under an add-k corpus bigram LM
    (doc_id, n_bigrams, avg_nll) — the Spark twin of BIGRAM_NLL_CTES.

    100 TB shape: the model is two corpus-wide count aggregates (fully
    map-side combinable), the scoring pass is hash joins keyed on the
    bigram/unigram — at web scale the pruned model table is the
    broadcast side; nothing is quadratic and no Python runs."""
    toks = tokens_expr(F.col("text"))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), F.concat(a, F.lit(" "), b).alias("big")),
    )
    bg = (
        d.filter(n >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.big").alias("big"))
    )
    uni = d.select(F.explode(toks).alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("uc"))
    vv = uc.agg(F.count(F.lit(1)).cast("double").alias("v"))
    bc = bg.groupBy("big").agg(F.count(F.lit(1)).alias("bc"))
    nll = -F.log(
        (F.col("bc") + F.lit(BG_K)) / (F.col("uc") + F.lit(BG_K) * F.col("v"))
    )
    return (
        bg.join(bc, "big")
        .join(uc, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )


@register(
    "ccnet_bigram_nll",
    oracle=f"""
WITH {BIGRAM_NLL_CTES}
SELECT doc_id, n_bigrams, avg_nll FROM nll
""",
)
def ccnet_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: average negative log-likelihood of
    each doc's bigrams under an add-k smoothed bigram model fit on the
    whole corpus (p(w2|w1) = (c(w1 w2)+k)/(c(w1)+k|V|)). CCNet buckets
    docs into head/middle/tail by KenLM perplexity; the bigram LM is
    the exactly-reproducible analogue, fit and applied in one job.
    See doc_bigram_nll for the 100 TB plan shape."""
    return bigram_nll_table(spark, sf_dir)


# ---------------------------------------------------------------------------
# filter_agreement_matrix — are the quality gates redundant?
# ---------------------------------------------------------------------------

FA_MIN_W, FA_MAX_W = 50, 1000
FA_MIN_MWL, FA_MAX_MWL = 3.0, 10.0
FA_MIN_TTR = 0.35
FA_MAX_TOP = 0.05

_FA_GATES_SQL = f"""
stats AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tot_chars,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct,
         CAST(list_max(list_transform(list_distinct(toks),
              w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) AS max_c
  FROM (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents)
  WHERE len(toks) > 0
),
gates AS (
  SELECT doc_id,
         (n >= {FA_MIN_W} AND n <= {FA_MAX_W}) AS g_words,
         (tot_chars / n >= {FA_MIN_MWL} AND tot_chars / n <= {FA_MAX_MWL}) AS g_mwl,
         (n_distinct / n >= {FA_MIN_TTR}) AS g_ttr,
         (max_c / n <= {FA_MAX_TOP}) AS g_top
  FROM stats
)"""

_FA_PAIRS = [
    ("g_words", "g_mwl"),
    ("g_words", "g_ttr"),
    ("g_words", "g_top"),
    ("g_mwl", "g_ttr"),
    ("g_mwl", "g_top"),
    ("g_ttr", "g_top"),
]


@register(
    "filter_agreement_matrix",
    oracle=f"""
WITH {_FA_GATES_SQL.strip()}
{" UNION ALL ".join(
    f'''SELECT '{a}' AS gate_a, '{b}' AS gate_b,
       CAST(sum(CASE WHEN {a} AND {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
       CAST(sum(CASE WHEN NOT {a} AND NOT {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop,
       CAST(sum(CASE WHEN {a} <> {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
       round(CAST(sum(CASE WHEN {a} = {b} THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS agreement
FROM gates''' for a, b in _FA_PAIRS)}
""",
)
def filter_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement between four independent quality gates
    (word-count window, mean-word-length window, type-token ratio,
    top-term share). Before stacking gates into curation_funnel, this
    is the diagnostic that shows which gates are near-duplicates (drop
    one) and which are orthogonal (keep both) — the standard ablation
    table in corpus-curation reports.

    100 TB shape: ONE corpus scan computes every per-doc boolean
    (sorted-run HOFs, no shuffle), a groupBy on the 4 booleans reduces
    the corpus to at most 16 combination cells (map-side combined), and
    the 6 pair rows come from those 16 rows — output is 6 rows no
    matter the corpus size.

    Plan note (measured, r5): two perf rules compose here. (1) The gate
    expressions follow _run_stats' lambda-capture rule — an earlier
    index-based formulation re-evaluated the sorted token array per
    lambda element and cost ~20 ms/row. (2) The gate booleans are
    materialized (4 booleans/doc — negligible at any corpus size)
    before the groupBy, because grouping by computed lambda-bearing
    keys inlines the HOF tree into the aggregate's key evaluation —
    measured 159 s vs <1 s at sf0.1; the reduction then groups plain
    attributes."""
    from ..operators import ensure_parallelism

    # r12 (guide §2.5): single-row-group scan -> the token-HOF gate pass
    # (materialized by the eager checkpoint below) ran as ONE task
    # (3.7 s of the query); spread it first (no-op on wide inputs)
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    ws = F.array_sort(tokens_expr(F.col("text")))
    n = F.size(ws)
    n_distinct, _slogs, maxc = _run_stats(ws, n)
    nd = n.cast("double")
    tot_chars = F.aggregate(
        F.transform(ws, lambda x: F.length(x)), F.lit(0), lambda a, v: a + v
    ).cast("double")
    gates = (
        d.filter(n > 0)
        .select(
            ((nd >= FA_MIN_W) & (nd <= FA_MAX_W)).alias("g_words"),
            ((tot_chars / nd >= FA_MIN_MWL) & (tot_chars / nd <= FA_MAX_MWL)).alias(
                "g_mwl"
            ),
            ((n_distinct.cast("double") / nd >= FA_MIN_TTR)).alias("g_ttr"),
            ((maxc.cast("double") / nd <= FA_MAX_TOP)).alias("g_top"),
        )
        .localCheckpoint(eager=True)
    )
    cells = gates.groupBy("g_words", "g_mwl", "g_ttr", "g_top").agg(
        F.count(F.lit(1)).alias("c")
    )
    # expand each of the <=16 cells into its 6 gate pairs and reduce —
    # constant-size data from here on
    pair_rows = cells.select(
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("gate_a"),
                        F.lit(b).alias("gate_b"),
                        F.col(a).alias("va"),
                        F.col(b).alias("vb"),
                    )
                    for a, b in _FA_PAIRS
                ]
            )
        ).alias("p"),
    ).select("c", "p.gate_a", "p.gate_b", "p.va", "p.vb")
    va, vb, c = F.col("va"), F.col("vb"), F.col("c")
    return (
        pair_rows.groupBy("gate_a", "gate_b")
        .agg(
            F.sum(F.when(va & vb, c).otherwise(0)).alias("n_both_keep"),
            F.sum(F.when(~va & ~vb, c).otherwise(0)).alias("n_both_drop"),
            F.sum(F.when(va != vb, c).otherwise(0)).alias("n_disagree"),
            F.round(
                F.sum(F.when(va == vb, c).otherwise(0)).cast("double") / F.sum(c), 6
            ).alias("agreement"),
        )
        .select(
            "gate_a",
            "gate_b",
            F.col("n_both_keep").cast("long").alias("n_both_keep"),
            F.col("n_both_drop").cast("long").alias("n_both_drop"),
            F.col("n_disagree").cast("long").alias("n_disagree"),
            "agreement",
        )
    )


# ---------------------------------------------------------------------------
# word_rank_curve — the Zipf head via TakeOrdered, never a global sort
# ---------------------------------------------------------------------------

WR_TOPK = 50


@register(
    "word_rank_curve",
    oracle=f"""
WITH uni AS (SELECT unnest({DUCK_TOKS}) AS w FROM documents),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY w),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM wc),
top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w ASC LIMIT {WR_TOPK})
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS BIGINT) AS rank,
       w AS word, cnt,
       round(cnt / tot.n, 6) AS share,
       round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, w ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / tot.n, 6) AS cum_share
FROM top CROSS JOIN tot
""",
)
def word_rank_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} corpus words with frequency share and cumulative share —
    the Zipf-head table that drives stopword lists, tokenizer vocab
    sanity checks, and boilerplate detection thresholds.

    100 TB shape: word counts are one map-side-combined groupBy; the
    top-K comes from orderBy().limit(K) — planned as
    TakeOrderedAndProject (per-partition heaps + driver merge of K
    rows), NEVER a global sort of the 10^7-word vocabulary. The rank /
    cumulative window then runs over K=50 rows only (bounded by
    construction)."""
    d = t(spark, sf_dir, "documents")
    uni = d.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
    # the vocab-sized count table feeds BOTH the total and the top-k;
    # pin it so the corpus explode+aggregate runs once, not twice
    wc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(
        eager=True
    )
    tot = wc.agg(F.sum("cnt").cast("double").alias("n"))
    top = wc.orderBy(F.desc("cnt"), F.asc("w")).limit(WR_TOPK)
    # k-row head: rank + running share via the triangular broadcast
    # self-join — no unpartitioned WindowExec (r7 task 7)
    from ..operators.windows import bounded_cumsum

    return (
        bounded_cumsum(
            top, [("cnt", False), ("w", True)], [("cnt", "cum_cnt", True)],
            count_out="rank",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("w").alias("word"),
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
            F.round(F.col("cum_cnt").cast("double") / F.col("n"), 6).alias(
                "cum_share"
            ),
        )
    )

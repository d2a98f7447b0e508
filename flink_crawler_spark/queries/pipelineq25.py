"""Wave 26: LM retrieval, graph link prediction, confounding audit.

  * query_likelihood_retrieval — Dirichlet-smoothed query-likelihood
    language-model retrieval (the classic IR twin of BM25).
  * graph_jaccard_link_prediction — common-neighbor / Jaccard link
    prediction on the co-purchase graph for md5-gated anchor parts.
  * simpson_paradox_check — does the aggregate rate difference reverse
    inside every stratum? (the confounding audit that motivates the
    IPW estimator).

All exact-value DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import register, t
from .textops import DUCK_TOKS

# ---------------------------------------------------------------------------
# query_likelihood_retrieval
# ---------------------------------------------------------------------------

QL_TERMS = ("spark", "window", "hash")  # same query as bm25_search_topk
QL_MU = 100.0
QL_TOPK = 20

_QL_TERMS_SQL = ", ".join(f"'{w}'" for w in QL_TERMS)


@register(
    "query_likelihood_retrieval",
    oracle=f"""
WITH d0 AS (SELECT doc_id, {DUCK_TOKS} AS tk FROM documents),
dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM d0),
allt AS (SELECT unnest(tk) AS w FROM d0),
st AS (SELECT CAST(count(*) AS BIGINT) AS total_toks FROM allt),
cf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cf FROM allt
  WHERE w IN ({_QL_TERMS_SQL}) GROUP BY w
),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tk) AS w FROM d0)
  WHERE w IN ({_QL_TERMS_SQL}) GROUP BY doc_id, w
),
qt AS (SELECT unnest([{_QL_TERMS_SQL}]) AS w),
scored AS (
  SELECT dl.doc_id, dl.dl,
         sum(CAST(round(ln(
               (CAST(coalesce(tf.tf, 0) AS DOUBLE)
                + {QL_MU} * (CAST(cf.cf AS DOUBLE) / CAST(st.total_toks AS DOUBLE)))
               / (CAST(dl.dl AS DOUBLE) + {QL_MU})), 12) AS DECIMAL(38,12))) AS score_d
  FROM dl CROSS JOIN qt
  JOIN cf ON cf.w = qt.w CROSS JOIN st
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.w = qt.w
  GROUP BY dl.doc_id, dl.dl
),
r AS (
  SELECT doc_id, dl, round(CAST(score_d AS DOUBLE), 9) AS ql_score,
         CAST(row_number() OVER (ORDER BY score_d DESC, doc_id ASC) AS BIGINT) AS rnk
  FROM scored
)
SELECT doc_id, dl AS doc_len, ql_score, rnk FROM r WHERE rnk <= {QL_TOPK}
""",
)
def query_likelihood_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft /
    Zhai & Lafferty) for the same fixed query as bm25_search_topk —
    the language-modeling twin of BM25, and the second ranking signal
    rrf_rank_fusion-style ensembles want. Every document scores (the
    smoothing term covers absent words), per-term log-likelihoods are
    rounded once and DECIMAL-summed so the EXACT decimal score orders
    the ranking identically in both engines, and the top-k cut is a
    distributed TakeOrdered after a per-(doc, term) aggregate with
    broadcast collection stats — one token-count shuffle total."""
    d0 = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "").alias("tk"),
    ).localCheckpoint(eager=True)
    dl = d0.select("doc_id", F.size("tk").cast("long").alias("dl"))
    allt = d0.select(F.explode("tk").alias("w"))
    st = allt.agg(F.count(F.lit(1)).cast("long").alias("total_toks"))
    terms = list(QL_TERMS)
    cf = (
        allt.where(F.col("w").isin(terms))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    tf = (
        d0.select("doc_id", F.explode("tk").alias("w"))
        .where(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    qt = spark.createDataFrame([(w,) for w in terms], "w STRING")
    scored = (
        dl.crossJoin(F.broadcast(qt))
        .join(F.broadcast(cf), "w")
        .crossJoin(F.broadcast(st))
        .join(tf, ["doc_id", "w"], "left")
        .selectExpr(
            "doc_id",
            "dl",
            f"CAST(round(ln((CAST(coalesce(tf, 0) AS DOUBLE)"
            f" + {QL_MU} * (CAST(cf AS DOUBLE) / CAST(total_toks AS DOUBLE)))"
            f" / (CAST(dl AS DOUBLE) + {QL_MU})), 12) AS DECIMAL(38,12)) AS term_ll",
        )
        .groupBy("doc_id", "dl")
        .agg(F.sum("term_ll").alias("score_d"))
    )
    top = scored.orderBy(F.desc("score_d"), F.asc("doc_id")).limit(QL_TOPK)
    # rank the top-k head with the triangular join — no unpartitioned
    # WindowExec on the k-row frame (r7 task 7)
    from ..operators.windows import bounded_row_number

    return (
        bounded_row_number(
            top, [("score_d", False), ("doc_id", True)], out="rnk"
        )
        .selectExpr(
            "doc_id",
            "dl AS doc_len",
            "round(CAST(score_d AS DOUBLE), 9) AS ql_score",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# graph_jaccard_link_prediction
# ---------------------------------------------------------------------------

LP_TOPK = 5
_LP_ANCHOR_DUCK = "substr(md5(CAST(pa AS VARCHAR)), 1, 1) = '0'"
_LP_ANCHOR_SPARK = "substr(md5(CAST(pa AS STRING)), 1, 1) = '0'"


@register(
    "graph_jaccard_link_prediction",
    oracle=f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nbr AS (
  SELECT pa, pb FROM e
  UNION ALL
  SELECT pb AS pa, pa AS pb FROM e
),
deg AS (SELECT pa, CAST(count(*) AS BIGINT) AS deg FROM nbr GROUP BY pa),
anchors AS (SELECT DISTINCT pa FROM nbr WHERE {_LP_ANCHOR_DUCK}),
common AS (
  SELECT x.pa AS a, y.pb AS c, CAST(count(*) AS BIGINT) AS cn
  FROM nbr x JOIN anchors ON anchors.pa = x.pa
  JOIN nbr y ON y.pa = x.pb
  WHERE y.pb <> x.pa
  GROUP BY x.pa, y.pb
),
cand AS (
  SELECT common.a, common.c, common.cn, da.deg AS deg_a, dc.deg AS deg_c
  FROM common
  JOIN deg da ON da.pa = common.a
  JOIN deg dc ON dc.pa = common.c
  LEFT JOIN nbr ex ON ex.pa = common.a AND ex.pb = common.c
  WHERE ex.pa IS NULL
),
scored AS (
  SELECT a, c, cn,
         round(CAST(cn AS DOUBLE) / CAST(deg_a + deg_c - cn AS DOUBLE), 6) AS jacc,
         CAST(row_number() OVER (
           PARTITION BY a
           ORDER BY round(CAST(cn AS DOUBLE) / CAST(deg_a + deg_c - cn AS DOUBLE), 6)
                      DESC, c ASC) AS BIGINT) AS rnk
  FROM cand
)
SELECT a AS part_a, c AS predicted_part, cn AS n_common, jacc, rnk
FROM scored WHERE rnk <= {LP_TOPK}
""",
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction on the co-purchase
    graph: for each md5-gated anchor part, the top-k parts it is NOT
    yet co-ordered with, ranked by neighbor-set Jaccard — the
    recommender / graph-completion primitive (Liben-Nowell & Kleinberg
    2003). The two-hop expansion is anchored (~1/16 of nodes), so the
    candidate table is bounded by anchor-degree x degree rather than
    sum-of-degrees-squared. Existing edges are removed INSIDE the
    common-neighbor aggregation: the anchored edge list is unioned into
    the two-hop stream as sentinel marker rows and the groupBy folds a
    signed weight (+1 per wedge, -2^40 per marker) into ONE sum whose
    sign encodes edge-existence — the exclusion rides the shuffle the
    count already pays, deleting the separate left-anti join, with a
    single agg buffer (r10 fold; was a conditional-sum + max-flag
    pair). At
    sf0.1 the 2.4M-row edge list still fits the broadcast threshold so
    the win is modest (8.2 -> 7.9 s steady-state, measured A/B); the
    point is the 100 TB shape, where the edge list CANNOT broadcast and
    the anti-join becomes a sort-merge pass over the candidate table —
    the largest intermediate in the plan — which the sentinel fold
    removes entirely. The Jaccard ranking rounds before the per-anchor rank
    window (top-5 runs as WindowGroupLimit — map-side bounded heaps).
    At web scale the same query runs per degree-bounded block (hub
    nodes excluded first — the standard LP trick), exactly how the
    triangle counter bounds itself."""
    from ..operators import ensure_parallelism

    # r12 (guide §2.5): the sf lineitem parquet is one file/one row group —
    # spread the scan so the self-join's shuffle writes aren't one task
    # per side (no-op once the input is multi-file at scale)
    li = ensure_parallelism(
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    )
    # r12 (guide §2.3): part keys are INT-bounded (p_partkey <= 2e5*SF);
    # carrying them as int halves the bytes through every exchange of
    # this plan's six shuffles (edge distinct, degree, anchors, both
    # wedge-join sides, the candidate aggregation); the output re-casts
    # to the oracle's BIGINT so result types are unchanged.
    a = li.selectExpr("l_orderkey", "CAST(l_partkey AS INT) AS pa")
    b = li.selectExpr("l_orderkey", "CAST(l_partkey AS INT) AS pb")
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
        # r12: pin e, not nbr — the union's two branches each held the
        # whole self-join+distinct subtree, so checkpointing nbr ran the
        # edge derivation TWICE in one job (measured: the nbr job was
        # ~2x the single-derivation cost). nbr stays a cheap projection
        # union over the pinned edge list for its four consumers.
        .localCheckpoint(eager=True)
    )
    nbr = e.unionAll(e.selectExpr("pb AS pa", "pa AS pb"))
    deg = nbr.groupBy("pa").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    anchors = nbr.where(F.expr(_LP_ANCHOR_SPARK)).select("pa").distinct()
    x = nbr.join(F.broadcast(anchors), "pa").selectExpr("pa AS a", "pb AS n")
    y = nbr.selectExpr("pa AS n", "pb AS c")
    # signed-weight sentinel fold (r10 variance-shrink A/B, SCALE.md
    # "graph_jaccard variance-shrink A/B/C"): hops carry +1, markers carry -2^40,
    # so ONE sum per group replaces the previous (conditional-sum,
    # max-flag) pair — a group containing a marker goes negative and is
    # dropped, and the surviving sum IS the common-neighbor count
    # (cn < 2^40 always: it is bounded by max degree). Same single
    # shuffle; one agg buffer instead of two. Paired 10-rep medians were
    # inside host noise (6.69 vs 6.58 s) but the straggler tail shrank
    # (A max 22.7 s / B+C max <= 10.5 s over 30 paired reps — SCALE.md
    # r10); adopted because the fold is also strictly less agg state at
    # 100 TB, where the wedge aggregation is this plan's biggest stage.
    _MARKER = 1 << 40
    # r12 (guide §3.1): the anchored side is |nbr|/16 by the md5 gate —
    # at sf0.1 it is 159k rows (~1.4 MB) while the stream side is 2.4M,
    # yet the planner saw both as unsized and AQE broadcast the WRONG
    # (2.39M-row) side. Hint the small side explicitly, gated on the
    # fact table's footer row count (the ann_exact_path guard idiom) so
    # a corpus where nbr/16 no longer fits a broadcast falls back to
    # the planner's shuffled join. Measured A/B (steady reps): 8.75 ->
    # 7.24 s with the hint, join output identical.
    from .base import parquet_row_count

    if parquet_row_count(sf_dir, "lineitem") <= 20_000_000:
        x = F.broadcast(x)
    hops = (
        y.join(x, "n")
        .where(F.col("c") != F.col("a"))
        .select("a", "c", F.lit(1).cast("long").alias("w"))
    )
    marker = (
        nbr.join(F.broadcast(anchors), "pa")
        .selectExpr("pa AS a", "pb AS c")
        .withColumn("w", F.lit(-_MARKER).cast("long"))
    )
    # r12 (guide §2.4): one keyed exchange for the whole tail — the
    # candidate aggregation's ClusteredDistribution([a,c]) AND the
    # top-k window's ClusteredDistribution([a]) are both satisfied by
    # HashPartitioning(a), so repartitioning the wedge stream by the
    # anchor once lets the aggregate plan as a single complete
    # HashAggregate (the previous partial pass reduced the 19.6M-row
    # wedge stream by only 2% — measured — so it was pure overhead)
    # and the window needs no second big exchange. 7.24 -> 6.34 s
    # (steady A/B); per-anchor candidate sets are degree-bounded, the
    # same bound the docstring's hub-exclusion argument already leans
    # on at web scale.
    common = (
        hops.unionByName(marker)
        .repartition("a")
        .groupBy("a", "c")
        .agg(F.sum("w").alias("cn"))
        .filter(F.col("cn") > 0)
    )
    cand = common.join(
        F.broadcast(deg.selectExpr("pa AS a", "deg AS deg_a")), "a"
    ).join(F.broadcast(deg.selectExpr("pa AS c", "deg AS deg_c")), "c")
    jacc = "round(CAST(cn AS DOUBLE) / CAST(deg_a + deg_c - cn AS DOUBLE), 6)"
    w = Window.partitionBy("a").orderBy(F.expr(jacc).desc(), F.asc("c"))
    return (
        cand.withColumn("jacc", F.expr(jacc))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= LP_TOPK)
        .selectExpr(
            "CAST(a AS BIGINT) AS part_a",
            "CAST(c AS BIGINT) AS predicted_part",
            "cn AS n_common",
            "jacc",
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# simpson_paradox_check
# ---------------------------------------------------------------------------

SP_GROUP_A = "F"
SP_GROUP_B = "O"


@register(
    "simpson_paradox_check",
    oracle=f"""
WITH o AS (
  SELECT year(o_orderdate) AS yr, o_orderstatus AS st,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders WHERE o_orderstatus IN ('{SP_GROUP_A}', '{SP_GROUP_B}')
),
cell AS (
  SELECT yr,
         CAST(sum(CASE WHEN st = '{SP_GROUP_A}' THEN y END) AS BIGINT) AS pos_a,
         CAST(sum(CASE WHEN st = '{SP_GROUP_A}' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN st = '{SP_GROUP_B}' THEN y END) AS BIGINT) AS pos_b,
         CAST(sum(CASE WHEN st = '{SP_GROUP_B}' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM o GROUP BY yr
),
agg AS (
  SELECT CAST(sum(pos_a) AS BIGINT) AS tpa, CAST(sum(n_a) AS BIGINT) AS tna,
         CAST(sum(pos_b) AS BIGINT) AS tpb, CAST(sum(n_b) AS BIGINT) AS tnb
  FROM cell
),
sgn AS (
  SELECT cell.*,
         CASE WHEN cell.pos_a * cell.n_b > cell.pos_b * cell.n_a THEN 1
              WHEN cell.pos_a * cell.n_b < cell.pos_b * cell.n_a THEN -1
              ELSE 0 END AS stratum_sign,
         CASE WHEN agg.tpa * agg.tnb > agg.tpb * agg.tna THEN 1
              WHEN agg.tpa * agg.tnb < agg.tpb * agg.tna THEN -1
              ELSE 0 END AS agg_sign
  FROM cell CROSS JOIN agg
)
SELECT yr, pos_a, n_a, pos_b, n_b,
       round(CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) AS stratum_diff,
       stratum_sign, agg_sign,
       CASE WHEN CAST(max(CASE WHEN stratum_sign = agg_sign THEN 1 ELSE 0 END)
                 OVER () AS BIGINT) = 0
            AND agg_sign <> 0 THEN 1 ELSE 0 END AS paradox_flag
FROM sgn
""",
)
def simpson_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: the urgent-rate difference between two
    order-status groups, overall AND inside every year stratum — the
    flag fires only when the aggregate direction is contradicted by
    EVERY stratum (the textbook confounding reversal; this is the read
    that says 'stratify before you trust the aggregate', motivating
    ipw_treatment_effect). All sign decisions are INTEGER-exact
    cross-multiplications — no float rate ever decides a sign. One
    conditional-aggregate pass; everything else lives on the
    years-bounded cell table."""
    o = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus").isin(SP_GROUP_A, SP_GROUP_B))
        .selectExpr(
            "year(o_orderdate) AS yr",
            "o_orderstatus AS st",
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y",
        )
    )
    cell = o.groupBy("yr").agg(
        F.sum(F.when(F.col("st") == SP_GROUP_A, F.col("y"))).cast("long").alias("pos_a"),
        F.sum(F.when(F.col("st") == SP_GROUP_A, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("st") == SP_GROUP_B, F.col("y"))).cast("long").alias("pos_b"),
        F.sum(F.when(F.col("st") == SP_GROUP_B, 1).otherwise(0)).cast("long").alias("n_b"),
    ).localCheckpoint(eager=True)
    agg = cell.agg(
        F.sum("pos_a").cast("long").alias("tpa"),
        F.sum("n_a").cast("long").alias("tna"),
        F.sum("pos_b").cast("long").alias("tpb"),
        F.sum("n_b").cast("long").alias("tnb"),
    )
    sgn = cell.crossJoin(F.broadcast(agg)).selectExpr(
        "yr",
        "pos_a",
        "n_a",
        "pos_b",
        "n_b",
        "CASE WHEN pos_a * n_b > pos_b * n_a THEN 1"
        " WHEN pos_a * n_b < pos_b * n_a THEN -1 ELSE 0 END AS stratum_sign",
        "CASE WHEN tpa * tnb > tpb * tna THEN 1"
        " WHEN tpa * tnb < tpb * tna THEN -1 ELSE 0 END AS agg_sign",
    ).localCheckpoint(eager=True)  # consumed by the flag agg AND the output
    # global "any stratum agrees with the aggregate" flag: a broadcast
    # 1-row aggregate crossJoin instead of an unbounded unpartitioned
    # window over the (years-bounded) stratum table (r7 task 7)
    any_agree = sgn.agg(
        F.max(
            F.when(F.col("stratum_sign") == F.col("agg_sign"), 1).otherwise(0)
        ).alias("__any_agree")
    )
    return sgn.crossJoin(F.broadcast(any_agree)).select(
        "yr",
        "pos_a",
        "n_a",
        "pos_b",
        "n_b",
        F.expr(
            "round(CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9)"
        ).alias("stratum_diff"),
        "stratum_sign",
        "agg_sign",
        F.when(
            (F.col("__any_agree") == 0) & (F.col("agg_sign") != 0), 1
        )
        .otherwise(0)
        .alias("paradox_flag"),
    )

"""Wave 9: sampling designs, batching economics, storage quantization,
and a backoff language model — the remaining pipeline-engineering
surfaces a 100 TB training-data run decides with.

  * systematic_pps_sample — deterministic probability-proportional-to-
    size systematic sampling over an md5-shuffled tape (the survey-
    sampling design used when "sample 500 docs weighted by length" must
    be reproducible and exactly sized).
  * length_bucket_packing — padding-waste report for length-bucketed
    batching vs pad-to-global-max (the dynamic-batching decision).
  * embedding_int8_quantize — per-dimension symmetric int8 quantization
    with exact reconstruction-error accounting (the 4x embedding
    storage decision before ANN serving).
  * stupid_backoff_score — leave-one-out trigram Stupid Backoff LM
    score per document (Brants et al. 2007, "Large Language Models in
    Machine Translation" — the distributed count-based LM; LOO makes
    the backoff path real on an in-corpus scorer).

All exact-value DuckDB oracles. Crawler core unchanged; these extend
the SURVEY.md §6 LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_expr
from .base import register, t
from .base import dec_to_double_wide as _d2dw
from .base import dec_to_double_wide_sql as _d2dws
from .textops import DUCK_TOKS

# ---------------------------------------------------------------------------
# systematic_pps_sample
# ---------------------------------------------------------------------------

SAMPLE_K = 500  # target sample size (exact by construction)


@register(
    "systematic_pps_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id, CAST(greatest(n_chars, 1) AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
c AS (
  SELECT doc_id, w,
         CAST(coalesce(sum(w) OVER (ORDER BY k, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM d
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d)
SELECT doc_id, w, cum_before,
       CAST((({2 * SAMPLE_K} * (cum_before + w) - 1 + tw) // (2 * tw))
          - (({2 * SAMPLE_K} * cum_before - 1 + tw) // (2 * tw)) AS BIGINT)
         AS n_copies,
       (({2 * SAMPLE_K} * (cum_before + w) - 1 + tw) // (2 * tw))
         > (({2 * SAMPLE_K} * cum_before - 1 + tw) // (2 * tw)) AS selected
FROM c, tot
""",
)
def systematic_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sampling:
    lay every doc on a weight tape in md5(doc_id) order, drop K evenly
    spaced points (2j+1)*W/(2K), and take each doc as many times as
    points land in its [cum, cum+w) span. Exactly K draws total, zero
    randomness at run time, inclusion probability ~ w/W — the classic
    survey-sampling design (Madow 1949) as a corpus subsampler.

    All selection arithmetic is INTEGER: a point (2j+1)*W falls in
    [2K*cum, 2K*(cum+w)) iff j < f(hi) and j >= f(lo) with
    f(x) = (x + W) div (2W), so n_copies = f(hi) - f(lo) with no
    floating point anywhere — both engines agree bit-for-bit and the
    per-doc copy counts sum to exactly K (pinned in tests).

    The exclusive cumsum over the md5 tape is the sequence_pack_chop
    two-phase distributed prefix sum: md5's first 2 hex digits form 256
    ordered buckets (prefix order IS tape order), per-bucket totals in
    one map-side-combined agg, driver exclusive scan over 256 values,
    broadcast back, per-bucket window. No single-partition stage; at
    100 TB widen the prefix to 3-4 hex digits.

    Reference anchor: the reference samples fetch sets by score order
    (FetchQueue.java top-k); this is the weighted-sampling twin a
    curation pipeline needs when budget must be spent proportionally.
    """
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("w"),
            F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")).alias("k"),
        )
        .withColumn("bucket", F.substring("k", 1, 2))
    )
    d = d.localCheckpoint(eager=True)  # scanned twice (totals + final)

    totals = (
        d.groupBy("bucket").agg(F.sum("w").alias("tot")).orderBy("bucket").collect()
    )
    offsets, running = [], 0
    for r in totals:
        offsets.append((r["bucket"], running))
        running += int(r["tot"])
    tw = running
    off = spark.createDataFrame(offsets, "bucket string, boff long")

    win = (
        Window.partitionBy("bucket")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (F.col("boff") + F.coalesce(F.sum("w").over(win), F.lit(0))).alias(
        "cum_before"
    )
    k2 = 2 * SAMPLE_K
    base = (
        d.join(F.broadcast(off), "bucket")
        .select("doc_id", "w", cum)
        .withColumn(
            "n_copies",
            F.expr(
                f"(({k2} * (cum_before + w) - 1 + {tw}L) div {2 * tw}L)"
                f" - (({k2} * cum_before - 1 + {tw}L) div {2 * tw}L)"
            ).cast("long"),
        )
    )
    return base.select(
        "doc_id", "w", "cum_before", "n_copies", (F.col("n_copies") > 0).alias("selected")
    )


# ---------------------------------------------------------------------------
# length_bucket_packing
# ---------------------------------------------------------------------------

N_BUCKETS = 10


@register(
    "length_bucket_packing",
    oracle=f"""
WITH d AS (
  SELECT doc_id, CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
nz AS (SELECT * FROM d WHERE n_tokens > 0),
r AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens, doc_id) AS rn,
         count(*) OVER () AS n
  FROM nz
),
b AS (SELECT CAST(((rn - 1) * {N_BUCKETS}) // n AS BIGINT) AS bucket, n_tokens FROM r),
a AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
  FROM b GROUP BY bucket
),
g AS (SELECT CAST(max(max_tokens) AS BIGINT) AS gmax FROM a)
SELECT bucket, n_docs, min_tokens, max_tokens, sum_tokens,
       round(1 - CAST(sum_tokens AS DOUBLE) / (n_docs * max_tokens), 6)
         AS pad_waste_bucketed,
       round(1 - CAST(sum_tokens AS DOUBLE) / (n_docs * gmax), 6)
         AS pad_waste_global
FROM a, g
""",
)
def length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching economics: rank docs by token length,
    cut the rank range into 10 equal-population buckets, and report per
    bucket the padded-token waste under pad-to-bucket-max vs
    pad-to-global-max — the report that justifies (or kills) bucketed
    dynamic batching before a training run.

    Bucket assignment is ntile-by-construction — bucket =
    (rank-1)*10 div n — but the rank comes from the shared
    `distributed_row_number` two-phase rank (range partition + bounded
    per-partition offsets), NOT a single-partition Window.orderBy, so
    the plan holds at any corpus size. The final waste arithmetic runs
    on the 10-row bucket aggregate (the one unpartitioned window in
    this query is over exactly N_BUCKETS rows — bounded by
    construction). Integer everything until the two final divisions.
    """
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(tokens_expr(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    # pinned: scanned by the boundary probe AND the bucket aggregation —
    # without this the corpus tokenizes twice
    d = d.localCheckpoint(eager=True)
    # r12 (guide §1.2, the rfm/lift boundary idiom): bucket assignment
    # needs only the 9 boundary keys, not a rank per row; the probe's
    # partition counts also replace the separate count() pass.
    from ..operators.partitioning import distributed_order_statistics

    probe, n = distributed_order_statistics(
        d,
        ["n_tokens", "doc_id"],
        lambda n_: [
            (i * n_ + N_BUCKETS - 1) // N_BUCKETS + 1 for i in range(1, N_BUCKETS)
        ],
    )
    cases = " + ".join(
        f"(CASE WHEN n_tokens > {r['n_tokens']}L OR (n_tokens = {r['n_tokens']}L"
        f" AND doc_id >= {r['doc_id']}L) THEN 1 ELSE 0 END)"
        for r in (
            probe[(i * n + N_BUCKETS - 1) // N_BUCKETS + 1]
            for i in range(1, N_BUCKETS)
        )
    )
    ranked = d.withColumn("bucket", F.expr(f"CAST({cases} AS BIGINT)"))
    agg = ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    # N_BUCKETS rows from here on; the global max is a broadcast 1-row
    # cross join (no unpartitioned window anywhere in the plan).
    gmax_df = agg.agg(F.max("max_tokens").alias("gmax"))
    gmax = F.col("gmax")
    return agg.crossJoin(F.broadcast(gmax_df)).select(
        "bucket",
        "n_docs",
        "min_tokens",
        "max_tokens",
        "sum_tokens",
        F.round(
            1
            - F.col("sum_tokens").cast("double")
            / (F.col("n_docs") * F.col("max_tokens")),
            6,
        ).alias("pad_waste_bucketed"),
        F.round(
            1 - F.col("sum_tokens").cast("double") / (F.col("n_docs") * gmax), 6
        ).alias("pad_waste_global"),
    )


# ---------------------------------------------------------------------------
# embedding_int8_quantize
# ---------------------------------------------------------------------------

EMB_DIM = 64


@register(
    "embedding_int8_quantize",
    oracle=f"""
WITH x AS (
  SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {EMB_DIM})) AS d)
),
m AS (SELECT d, max(abs(x)) AS maxabs FROM x GROUP BY d),
q AS (
  SELECT x.d, x.x, m.maxabs,
         CASE WHEN m.maxabs = 0 THEN 0.0
              ELSE floor(x.x * 127.0 / m.maxabs + 0.5) END AS q
  FROM x JOIN m ON x.d = m.d
),
e AS (
  SELECT d, maxabs, q,
         x - (CASE WHEN maxabs = 0 THEN 0.0 ELSE q * maxabs / 127.0 END) AS err
  FROM q
)
SELECT CAST(d AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
       round(max(maxabs), 6) AS maxabs,
       CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
       round({_d2dws("sum(CAST(round(err * err, 12) AS DECIMAL(38,12)))", 12)}
             / count(*), 9) AS mse
FROM e GROUP BY d
""",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding
    corpus: scale_d = max|x_d| over the corpus, q = floor(x*127/scale
    + 0.5), reported per dimension as saturation count + exact mean
    squared reconstruction error — the 4x-smaller-vectors storage
    decision (and its accuracy bill) before an ANN serving deployment.

    Bit-exact across engines by construction: float32 inputs widen to
    double exactly; x*127 is exact (24-bit mantissa + 7 bits < 53); the
    single division and the +0.5/floor round are deterministic IEEE ops
    both engines share (no round() half-mode anywhere near the
    quantizer); q*maxabs is exact (8-bit x 24-bit); the error sum uses
    the repo's decimal discipline at 12 dp (err^2 ~ 1e-5 — 6 dp would
    erase it). floor(x*127/maxabs + 0.5) is already in [-127, 127] for
    |x| <= maxabs, so no clamp branch exists to disagree on.

    Shape: one posexplode scan + a 64-row broadcast of the per-dim
    scales back onto the scan — the corpus never shuffles; the stats
    agg is map-side combined. At 100 TB this is the same two scans an
    IVF-PQ build already pays.
    """
    e = t(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("p", "xf")
    ).select(
        "vec_id", (F.col("p") + 1).alias("d"), F.col("xf").cast("double").alias("x")
    )
    m = x.groupBy("d").agg(F.max(F.abs(F.col("x"))).alias("maxabs"))
    q = x.join(F.broadcast(m), "d").withColumn(
        "q",
        F.when(F.col("maxabs") == 0, F.lit(0.0)).otherwise(
            F.floor(F.col("x") * 127.0 / F.col("maxabs") + 0.5).cast("double")
        ),
    )
    err = q.withColumn(
        "err",
        F.col("x")
        - F.when(F.col("maxabs") == 0, F.lit(0.0)).otherwise(
            F.col("q") * F.col("maxabs") / 127.0
        ),
    )
    return err.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("maxabs"), 6).alias("maxabs"),
        F.sum((F.abs(F.col("q")) == 127).cast("long")).alias("n_sat"),
        F.round(
            _d2dw(
                F.sum(
                    F.round(F.col("err") * F.col("err"), 12).cast("decimal(38,12)")
                ),
                12,
            )
            / F.count(F.lit(1)),
            9,
        ).alias("mse"),
    ).select(F.col("d").cast("long").alias("dim"), "n", "maxabs", "n_sat", "mse")


# ---------------------------------------------------------------------------
# stupid_backoff_score — leave-one-out trigram LM
# ---------------------------------------------------------------------------

SB_ALPHA = 0.4  # the published backoff constant (Brants et al. 2007, §3)


@register(
    "stupid_backoff_score",
    oracle=f"""
WITH d0 AS (SELECT doc_id, {DUCK_TOKS} AS tk FROM documents),
tr AS (
  SELECT doc_id, tk[i-2] AS a, tk[i-1] AS b, tk[i] AS w
  FROM (SELECT doc_id, tk, unnest(generate_series(3, len(tk))) AS i FROM d0)
),
bg AS (
  SELECT doc_id, tk[i-1] AS x, tk[i] AS y
  FROM (SELECT doc_id, tk, unnest(generate_series(2, len(tk))) AS i FROM d0)
),
ug AS (SELECT doc_id, unnest(tk) AS w FROM d0),
c3g AS (SELECT a, b, w, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY a, b, w),
c3d AS (SELECT doc_id, a, b, w, CAST(count(*) AS BIGINT) AS c
        FROM tr GROUP BY doc_id, a, b, w),
c2g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY x, y),
c2d AS (SELECT doc_id, x, y, CAST(count(*) AS BIGINT) AS c
        FROM bg GROUP BY doc_id, x, y),
c1g AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ug GROUP BY w),
c1d AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM ug GROUP BY doc_id, w),
nn AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM ug),
nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ndoc FROM ug GROUP BY doc_id),
pos AS (
  SELECT tr.doc_id,
         c3g.c - c3d.c AS c3,
         cab.c - cabd.c AS c2ab,
         cbw.c - cbwd.c AS c2bw,
         ub.c - ubd.c AS c1b,
         uw.c - uwd.c AS c1w,
         nn.ntot - nd.ndoc AS np
  FROM tr
  JOIN c3g ON c3g.a = tr.a AND c3g.b = tr.b AND c3g.w = tr.w
  JOIN c3d ON c3d.doc_id = tr.doc_id AND c3d.a = tr.a AND c3d.b = tr.b
          AND c3d.w = tr.w
  JOIN c2g cab ON cab.x = tr.a AND cab.y = tr.b
  JOIN c2d cabd ON cabd.doc_id = tr.doc_id AND cabd.x = tr.a AND cabd.y = tr.b
  JOIN c2g cbw ON cbw.x = tr.b AND cbw.y = tr.w
  JOIN c2d cbwd ON cbwd.doc_id = tr.doc_id AND cbwd.x = tr.b AND cbwd.y = tr.w
  JOIN c1g ub ON ub.w = tr.b
  JOIN c1d ubd ON ubd.doc_id = tr.doc_id AND ubd.w = tr.b
  JOIN c1g uw ON uw.w = tr.w
  JOIN c1d uwd ON uwd.doc_id = tr.doc_id AND uwd.w = tr.w
  CROSS JOIN nn
  JOIN nd ON nd.doc_id = tr.doc_id
),
scored AS (
  SELECT doc_id,
         CASE WHEN c3 > 0 THEN 1 ELSE 0 END AS is_tri,
         CASE WHEN c3 = 0 AND c2bw > 0 THEN 1 ELSE 0 END AS is_bi,
         CASE WHEN c3 = 0 AND c2bw = 0 THEN 1 ELSE 0 END AS is_uni,
         CASE WHEN c3 > 0 THEN CAST(c3 AS DOUBLE) / c2ab
              WHEN c2bw > 0 THEN {SB_ALPHA} * CAST(c2bw AS DOUBLE) / c1b
              ELSE {SB_ALPHA * SB_ALPHA} * CAST(c1w AS DOUBLE) / np END AS s
  FROM pos
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       CAST(sum(is_tri) AS BIGINT) AS n_tri_hits,
       CAST(sum(is_bi) AS BIGINT) AS n_bi_backoffs,
       CAST(sum(is_uni) AS BIGINT) AS n_uni_backoffs,
       round({_d2dws("sum(CAST(round(s, 12) AS DECIMAL(38,12)))", 12)}
             / count(*), 9) AS score
FROM scored GROUP BY doc_id
""",
)
def stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out trigram Stupid Backoff LM score per document
    (Brants et al. 2007): each position i >= 2 scores
    S(w | a, b) = c3(a,b,w)/c2(a,b) when the trigram survives removal
    of this doc's own counts, else 0.4 * c2(b,w)/c1(b), else
    0.4^2 * c1(w)/N — the count-based quality signal CCNet-style
    pipelines use when a trained LM is too expensive, with leave-one-
    out subtraction so the backoff path actually fires on an in-corpus
    scorer (a doc can't vouch for itself).

    Counts are three map-side-combined aggs (the classic distributed
    n-gram LM build), and every GLOBAL count table derives from its
    per-doc twin by a second, much smaller agg — each exploded n-gram
    stream is shuffled exactly once. Scoring collapses the position
    stream too: all positions of one (doc, a, b, w) group score
    identically, so the scorer runs on the distinct per-doc trigram
    table weighted by its own count (the c3d column doubles as the
    leave-one-out subtrahend AND the position multiplicity) — the join
    fan-in is per-doc-distinct trigrams, not raw positions. Per-position
    scores are rationals of BIGINTs (deterministic double division + the
    0.4/0.16 literals both engines parse identically); the per-doc mean
    uses the decimal discipline at 12 dp (an exact decimal times a
    BIGINT weight equals the weight-fold sum, so collapsing cannot move
    the answer). Docs with < 3 tokens have no scoreable position and
    are absent.

    Triples/bigrams come from the materialized token array via
    transform(sequence(...)) — zero shuffle to build, and the array is
    projected FIRST so the lambda captures a column, not a
    recomputation (the interpreted-HOF capture trap).
    """
    # r12 (guide §2.5 input skew): the sf-corpus parquet is ONE file with
    # ONE row group, so the scan is a single task and every tokenize +
    # explode + map-side partial agg below ran single-threaded (measured:
    # the c3d stream alone 1.72 s, ~4x the parallel cost). Spread the
    # 5k-row doc table across cores first; at real scale the input is
    # already wide and this is a no-op.
    from ..operators import ensure_parallelism

    # r13 (guide §2.4): tokenize ONCE. The three per-doc count tables each
    # re-ran the regex tokenizer + scan (three full tokenize passes per
    # query — the dominant cost; the count tables themselves are ~630k
    # rows total at sf0.1). Pin the token arrays and let all three
    # exploded streams read the materialized column.
    d0 = (
        ensure_parallelism(t(spark, sf_dir, "documents"))
        .select("doc_id", tokens_expr(F.col("text")).alias("tk"))
        .localCheckpoint(eager=True)
    )
    tr = d0.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tk") >= 3,
                F.expr(
                    "transform(sequence(2, size(tk) - 1),"
                    " i -> struct(tk[i-2] as a, tk[i-1] as b, tk[i] as w))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("t"),
    ).select("doc_id", "t.a", "t.b", "t.w")
    bg = d0.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tk") >= 2,
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i-1] as x, tk[i] as y))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("t"),
    ).select("doc_id", "t.x", "t.y")
    ug = d0.select("doc_id", F.explode("tk").alias("w"))

    # r13 (r12 verdict task 6, guide §3.3/§2.4): the leave-one-out join
    # tower collapsed. Before: 5 global count tables (separate
    # Exchange+HashAggregate each) joined NEXT TO their per-doc twins —
    # 10 broadcast joins, 11 distinct BroadcastExchanges, zero reuse
    # (every build side had its own renames, so canonical equality never
    # fired). Now each global count rides its per-doc table as a WINDOW
    # SUM over the global key (sum over (a,b,w)/(x,y)/(w) of the per-doc
    # counts IS the global count — exact BIGINT arithmetic, same values),
    # so one combined broadcast table serves both the global and the
    # per-doc column of each lookup:
    #   - c3g attaches to the probe itself (window in the build job; the
    #     join disappears entirely),
    #   - c2 (bigram) joins twice on (doc,x,y) with IDENTICAL build
    #     sides -> ONE BroadcastExchange, reused,
    #   - c1 (unigram) likewise,
    #   - nd carries ntot, a one-row grouping-free aggregate over c1
    #     attached by broadcast cross join. Not a partition-less window
    #     total: that plans as Exchange SinglePartition -> Window and
    #     runs every document's row through one task, which breaks
    #     SCALE.md's partitioned-or-bounded window rule.
    # 10 broadcast joins -> 5 (3 distinct broadcast builds, plus the
    # one-row ntot broadcast inside nd's build); 6 global-agg exchanges ->
    # 3 window exchanges that replace them 1:1 in the build jobs, plus
    # ntot's merge of per-partition partial sums. Checkpoints stay: each
    # combined table is a sized build side. The joins carry no broadcast
    # hint — c2, c1 and nd grow with the corpus — so the planner
    # broadcasts them only while their checkpointed size fits the
    # threshold and shuffles them past it; only the one-row ntot is
    # forced.
    _w3 = Window.partitionBy("a", "b", "w")
    c3dw = (
        tr.groupBy("doc_id", "a", "b", "w")
        .agg(F.count(F.lit(1)).alias("c3d"))
        .withColumn("c3g", F.sum("c3d").over(_w3))
        .localCheckpoint(eager=True)
    )
    c2 = (
        bg.groupBy("doc_id", "x", "y")
        .agg(F.count(F.lit(1)).alias("c2d"))
        .withColumn("c2g", F.sum("c2d").over(Window.partitionBy("x", "y")))
        .localCheckpoint(eager=True)
    )
    c1 = (
        ug.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c1d"))
        .withColumn("c1g", F.sum("c1d").over(Window.partitionBy("w")))
        .localCheckpoint(eager=True)
    )
    nn = c1.agg(F.sum("c1d").alias("ntot"))
    nd = (
        c1.groupBy("doc_id")
        .agg(F.sum("c1d").alias("ndoc"))
        .crossJoin(F.broadcast(nn))
    )

    # string-qualified aliases: the SAME c2/c1 frame joins twice, and
    # dataset-ref columns are ambiguous across a self-join; SubqueryAlias
    # wrappers canonicalize away, so BroadcastExchange reuse still fires.
    j1 = (
        c3dw.alias("t3")
        .join(
            c2.alias("cA"),
            F.expr("t3.doc_id = cA.doc_id AND t3.a = cA.x AND t3.b = cA.y"),
        )
        .select(
            "t3.doc_id", "t3.a", "t3.b", "t3.w", "t3.c3d", "t3.c3g",
            F.col("cA.c2d").alias("c2d_ab"), F.col("cA.c2g").alias("c2g_ab"),
        )
    )
    j2 = (
        j1.alias("j1")
        .join(
            c2.alias("cB"),
            F.expr("j1.doc_id = cB.doc_id AND j1.b = cB.x AND j1.w = cB.y"),
        )
        .select(
            *[f"j1.{c}" for c in j1.columns],
            F.col("cB.c2d").alias("c2d_bw"), F.col("cB.c2g").alias("c2g_bw"),
        )
    )
    j3 = (
        j2.alias("j2")
        .join(
            c1.alias("uA"),
            F.expr("j2.doc_id = uA.doc_id AND j2.b = uA.w"),
        )
        .select(
            *[f"j2.{c}" for c in j2.columns],
            F.col("uA.c1d").alias("c1d_b"), F.col("uA.c1g").alias("c1g_b"),
        )
    )
    j4 = (
        j3.alias("j3")
        .join(
            c1.alias("uB"),
            F.expr("j3.doc_id = uB.doc_id AND j3.w = uB.w"),
        )
        .select(
            *[f"j3.{c}" for c in j3.columns],
            F.col("uB.c1d").alias("c1d_w"), F.col("uB.c1g").alias("c1g_w"),
        )
    )
    pos = (
        j4.join(nd, "doc_id")
        .select(
            "doc_id",
            F.col("c3d").alias("cnt"),
            (F.col("c3g") - F.col("c3d")).alias("c3"),
            (F.col("c2g_ab") - F.col("c2d_ab")).alias("c2ab"),
            (F.col("c2g_bw") - F.col("c2d_bw")).alias("c2bw"),
            (F.col("c1g_b") - F.col("c1d_b")).alias("c1b"),
            (F.col("c1g_w") - F.col("c1d_w")).alias("c1w"),
            (F.col("ntot") - F.col("ndoc")).alias("np"),
        )
    )
    s = (
        F.when(F.col("c3") > 0, F.col("c3").cast("double") / F.col("c2ab"))
        .when(
            F.col("c2bw") > 0,
            F.lit(SB_ALPHA) * F.col("c2bw").cast("double") / F.col("c1b"),
        )
        .otherwise(
            F.lit(SB_ALPHA * SB_ALPHA) * F.col("c1w").cast("double") / F.col("np")
        )
    )
    scored = pos.select(
        "doc_id",
        "cnt",
        ((F.col("c3") > 0).cast("long") * F.col("cnt")).alias("is_tri"),
        (((F.col("c3") == 0) & (F.col("c2bw") > 0)).cast("long") * F.col("cnt")).alias(
            "is_bi"
        ),
        (((F.col("c3") == 0) & (F.col("c2bw") == 0)).cast("long") * F.col("cnt")).alias(
            "is_uni"
        ),
        s.alias("s"),
    )
    # s in [0, 1] by construction (each branch's numerator count is
    # dominated by its denominator count), so round(s, 12) fits
    # decimal(14,12) and the cnt-weighted product decimal(14,12) x
    # decimal(19,0) = decimal(34,12) stays under precision 38 — exact,
    # i.e. bit-identical to adding the rounded decimal cnt times like
    # the per-position oracle does (Spark would silently rescale to 6 dp
    # if the product overflowed 38).
    return scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_scored"),
        F.sum("is_tri").alias("n_tri_hits"),
        F.sum("is_bi").alias("n_bi_backoffs"),
        F.sum("is_uni").alias("n_uni_backoffs"),
        F.round(
            _d2dw(
                F.sum(
                    F.round(F.col("s"), 12).cast("decimal(14,12)")
                    * F.col("cnt").cast("decimal(19,0)")
                ),
                12,
            )
            / F.sum("cnt"),
            9,
        ).alias("score"),
    )

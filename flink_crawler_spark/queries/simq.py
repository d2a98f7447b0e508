"""Similarity-search queries over the embeddings table (64-dim float).

For oracle-compared queries the dot products are generated as explicit
64-term left-associated sums — textually identical arithmetic in both
engines, so the IEEE-754 results match bit-for-bit (no reliance on
either engine's reduction order). LSH-bucketed ANN variants are
engine-internal approximations -> rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    ann_topk_lsh,
    as_double_array,
    cosine_expr,
    embedding_near_dup_pairs,
)
from .base import memo, register, t
from .base import dec_to_double_wide as _d2dw
from .base import dsum_wide_expr_sql as _dwes

DIM = 64
TOPK = 20
# the synthetic embeddings top out around cosine 0.51 pairwise; 0.35
# yields a few hundred "near-dup" pairs at every sf
PAIR_THRESHOLD = 0.35


def _dot_sql(a: str, b: str, base: int) -> str:
    return " + ".join(
        f"CAST({a}[{i + base}] AS DOUBLE) * CAST({b}[{i + base}] AS DOUBLE)" for i in range(DIM)
    )


def _dot_sql_nocast(a: str, b: str, base: int) -> str:
    return " + ".join(f"{a}[{i + base}] * {b}[{i + base}]" for i in range(DIM))


def _norm_sql(a: str, base: int) -> str:
    return (
        "sqrt(" \
        + " + ".join(
            f"CAST({a}[{i + base}] AS DOUBLE) * CAST({a}[{i + base}] AS DOUBLE)"
            for i in range(DIM)
        )
        + ")"
    )


@register(
    "cosine_topk_bruteforce",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(({_dot_sql('e.embedding', 'q.qv', 1)})
             / (({_norm_sql('e.embedding', 1)}) * ({_norm_sql('q.qv', 1)})), 6) AS cosine
FROM embeddings e CROSS JOIN q
ORDER BY cosine DESC, e.vec_id ASC
LIMIT {TOPK}
""",
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-k against the vec_id=0
    query vector. Arrow kernel computes the same left-associated doubles
    as the oracle's explicit sum (operators/similarity.py); ordering is
    TakeOrderedAndProject."""
    from ..operators.similarity import exact_cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return exact_cosine_topk(emb, qv, k=TOPK)


@register(
    "cosine_pairs_bruteforce",
    oracle=f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         {_norm_sql('embedding', 1)} AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(({_dot_sql_nocast('a.emb', 'b.emb', 1)}) / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(({_dot_sql_nocast('a.emb', 'b.emb', 1)}) / (a.nrm * b.nrm), 6) >= {PAIR_THRESHOLD}
""",
)
def cosine_pairs_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs (cosine >= threshold). The O(n^2)
    oracle shape for correctness; the LSH-blocked variant below is the
    scale path. The Arrow kernel reproduces the oracle's left-associated
    sums bit-for-bit (elementwise column accumulation) at numpy speed —
    ~4x over the codegen'd 64-term expression, no O(n^2) cache.
    """
    from ..operators.similarity import exact_cosine_pairs

    emb = t(spark, sf_dir, "embeddings")
    return exact_cosine_pairs(emb, threshold=PAIR_THRESHOLD)


# --- ann_topk_lsh / ann_topk_ivf / embedding_near_dup_lsh ------------------
# Registered BELOW _ann_recall_oracle (r10, round-9 verdict task 2):
# formerly rows-only, now full value oracles — the LSH signatures and
# IVF training that made their candidate sets "engine-internal" are the
# same deterministic left-assoc twins ann_recall_report already proved
# reproduce bit-for-bit in DuckDB, so the candidate sets themselves are
# cross-engine reproducible and the whole result value-hashes.


# --- ann_recall_report (r8, round-7 verdict task 5): exact-oracled ----------
#
# Every index structure the report measures is recomputed identically in
# both engines: IVF training is the kmeans decimal discipline (left-assoc
# fold similarities, decimal-rounded centroid means, renormalize with the
# same textual norm), LSH signatures are left-assoc plane dots over
# inlined seeded-hyperplane literals, PQ reuses the proven _pq_core /
# _PQ_CHAIN twins. Registration (with the generated oracle) lives in
# pipelineq3 — it owns the PQ CTE chain and already imports this module.

RECALL_QIDS = (0, 7, 13)
RECALL_PROBES = (2, 4, 8)
IVF_SAMPLE = 1024  # training sample = lowest vec_ids (bounded at any scale)
IVF_LISTS = 16
IVF_ROUNDS = 3
RECALL_N_PLANES = 8

from ..operators.similarity import hyperplanes as _hyperplanes  # noqa: E402

_RECALL_PLANES = _hyperplanes(DIM, RECALL_N_PLANES, 42)
_QID_IN = "(" + ", ".join(str(q) for q in RECALL_QIDS) + ")"


def _dotxx(a: str, b: str) -> str:
    """Left-assoc dot over two 1-based SQL list columns (already DOUBLE)."""
    return " + ".join(f"{a}[{d}] * {b}[{d}]" for d in range(1, DIM + 1))


def _ivf_chain_sql() -> str:
    """CTE text (no leading WITH, no trailing comma): ix0 -> ixn -> ism
    -> ic0 -> IVF_ROUNDS Lloyd rounds -> iaf (full-corpus inverted-list
    assignment) — the exact-twin IVF trainer, shared by the
    ann_recall_report oracle and the ann_topk_ivf value oracle (r10).
    Term-for-term the DuckDB twin of _ivf_exact_centroids +
    _argmax_sim."""
    means = ", ".join(
        f"{_dwes(f's.xv[{d}]')} / count(*) AS m{d}"
        for d in range(1, DIM + 1)
    )
    mlist = "[" + ", ".join(f"m{d}" for d in range(1, DIM + 1)) + "]"
    mnorm = " + ".join(f"m{d} * m{d}" for d in range(1, DIM + 1))
    rounds = []
    for r in range(1, IVF_ROUNDS + 1):
        prev = f"ic{r - 1}"
        rounds.append(
            f"""id{r} AS (SELECT s.vec_id, c.cid, ({_dotxx('s.xv', 'c.cv')}) AS sim
       FROM ism s CROSS JOIN {prev} c),
ia{r} AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
         FROM id{r}) z WHERE rn = 1),
iu{r} AS (SELECT a.cid, {means} FROM ia{r} a JOIN ism s USING (vec_id) GROUP BY a.cid),
iu{r}l AS (SELECT cid, list_transform({mlist}, v -> v / sqrt({mnorm})) AS cv FROM iu{r}),
ic{r} AS (SELECT c.cid, coalesce(u.cv, c.cv) AS cv
       FROM {prev} c LEFT JOIN iu{r}l u ON u.cid = c.cid)"""
        )
    lloyd = ",\n".join(rounds)
    return f"""ix0 AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd,
               ({_norm_sql('embedding', 1)}) AS nv FROM embeddings),
ixn AS (SELECT vec_id, list_transform(xd, v -> v / nv) AS xv FROM ix0),
ism AS (SELECT vec_id, xv FROM ixn
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {IVF_SAMPLE})),
ic0 AS (SELECT vec_id AS cid, xv AS cv FROM ixn
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {IVF_LISTS})),
{lloyd},
iaf AS (SELECT vec_id, cid FROM (
        SELECT x.vec_id, c.cid,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY ({_dotxx('x.xv', 'c.cv')}) DESC, c.cid) AS rn
        FROM ixn x CROSS JOIN ic{IVF_ROUNDS} c) z WHERE rn = 1)"""


def _lsh_sig_sql(src: str) -> str:
    """Sign-LSH bucket id from inlined hyperplane literals — the SQL twin
    of operators.similarity.signature_expr (same left-assoc plane dots)."""
    terms = []
    for i, plane in enumerate(_RECALL_PLANES):
        dot = " + ".join(
            f"CAST({src}[{d}] AS DOUBLE) * {float(plane[d - 1])!r}" for d in range(1, DIM + 1)
        )
        terms.append(f"(CASE WHEN ({dot}) >= 0.0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _xn_frame(emb: DataFrame) -> DataFrame:
    """(vec_id, xv): unit-normalized double vectors, the IVF training
    space — norm is the same left-assoc fold the oracle spells out."""
    xd = as_double_array(F.col("embedding"))
    nv = F.sqrt(F.aggregate(xd, F.lit(0.0), lambda acc, v: acc + v * v))
    return emb.select("vec_id", xd.alias("__xd"), nv.alias("__nv")).select(
        "vec_id", F.transform("__xd", lambda v: v / F.col("__nv")).alias("xv")
    )


def _ivf_exact_centroids(spark: SparkSession, emb: DataFrame, xn: DataFrame) -> DataFrame:
    """Exact-twin IVF coarse quantizer: seeds = the IVF_LISTS lowest-id
    normalized vectors, IVF_ROUNDS Lloyd rounds over the IVF_SAMPLE
    lowest-id sample with cosine argmax (sim DESC, cid tie-break) and
    decimal-mean + renormalize updates; empty lists keep their previous
    centroid. The driver carries only K x DIM doubles between rounds
    (collected + re-literalized so the plan stays O(1) deep) — the same
    bounded-sample training ivf_centroids does, with engine-reproducible
    arithmetic instead of BLAS.

    Shape notes: the argmax is a struct-MAX aggregation (map-side
    combinable; (sim, -cid) max == the oracle's row_number over sim DESC,
    cid ASC, exact-double ties included), and the loop runs under 4
    shuffle partitions — 1024-row training frames pay more for 32-task
    scheduling than for the work (the crawl-loop lesson)."""
    sample_ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(IVF_SAMPLE).collect()]
    seed_ids = sorted(sample_ids)[:IVF_LISTS]
    sm = xn.filter(F.col("vec_id").isin(sample_ids)).localCheckpoint(eager=True)
    cent = spark.createDataFrame(
        [
            (int(r["vec_id"]), [float(x) for x in r["xv"]])
            for r in sm.filter(F.col("vec_id").isin(seed_ids)).collect()
        ],
        "cid bigint, cv array<double>",
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for _ in range(IVF_ROUNDS):
            assign = _argmax_sim(
                sm.crossJoin(F.broadcast(cent)).select(
                    "vec_id",
                    "cid",
                    F.aggregate(
                        F.zip_with("xv", "cv", lambda a, b: a * b),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("sim"),
                )
            )
            means = (
                assign.join(sm, "vec_id")
                .select("cid", F.posexplode("xv").alias("d", "xd"))
                .groupBy("cid", "d")
                .agg(
                    F.sum(F.round(F.col("xd"), 6).cast("decimal(28,6)")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .select("cid", "d", (_d2dw(F.col("s")) / F.col("n")).alias("md"))
                .groupBy("cid")
                .agg(F.array_sort(F.collect_list(F.struct("d", "md"))).alias("p"))
                .select("cid", F.transform("p", lambda q: q["md"]).alias("mv"))
            )
            mnorm = F.sqrt(F.aggregate(F.col("mv"), F.lit(0.0), lambda acc, v: acc + v * v))
            upd = means.select("cid", mnorm.alias("__nn"), "mv").select(
                "cid", F.transform("mv", lambda v: v / F.col("__nn")).alias("cvn")
            )
            nxt = cent.join(upd, "cid", "left").select(
                "cid", F.coalesce("cvn", "cv").alias("cv")
            )
            cent = spark.createDataFrame(
                [(int(r["cid"]), [float(x) for x in r["cv"]]) for r in nxt.collect()],
                "cid bigint, cv array<double>",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return cent


def _argmax_sim(scored: DataFrame) -> DataFrame:
    """(vec_id, cid, sim) -> per-vec argmax as (vec_id, cid), ties to the
    LOWEST cid — a struct-MAX on (sim, -cid), bit-identical to
    ``row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid)``
    but map-side combinable (no window sort)."""
    return (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("nc"))).alias("m"))
        .select("vec_id", (-F.col("m.nc")).alias("cid"))
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring ANN quality gate: recall@k of each approximate
    method against the exact brute-force top-k, averaged over several
    query vectors and swept over n_probe — the probe-vs-recall tuning
    table a 100 TB deployment derives on a sample before trusting an
    index configuration. Exact-oracled (r8): IVF training, LSH buckets,
    PQ codebooks, and every ranking reproduce bit-for-bit in the DuckDB
    twin, so the recall VALUES are verified, not just the row shape."""
    from pyspark.sql import Window

    # the quality gate runs on a sample-sized corpus — right-size the
    # partitioning to the sample (32 near-empty shuffle tasks per stage
    # cost more in scheduling than the data; measured 2x on this report)
    emb = t(spark, sf_dir, "embeddings").repartition(4)
    qids = list(RECALL_QIDS)
    qdf = F.broadcast(
        emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    sim = cosine_expr(as_double_array(F.col("embedding")), as_double_array(F.col("qv")))

    # all queries scored in ONE pass (query batching — the shape ANN
    # serving uses); reused by the truth set and every method's ranking
    scored = (
        emb.crossJoin(qdf)
        .select("qid", "vec_id", sim.alias("cosine"))
        .localCheckpoint(eager=True)
    )
    tw = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    truth = (
        scored.withColumn("rn", F.row_number().over(tw))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "vec_id")
        .localCheckpoint(eager=True)
    )

    # --- IVF: exact-twin training, then probe sweep as joins ---
    xn = _xn_frame(emb).localCheckpoint(eager=True)
    cent = F.broadcast(_ivf_exact_centroids_cached(spark, sf_dir, xn))
    dot_xc = F.aggregate(
        F.zip_with("xv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    assigned = _argmax_sim(
        xn.crossJoin(cent).select("vec_id", "cid", dot_xc.alias("sim"))
    )
    pw = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid").asc())
    pr = (
        xn.filter(F.col("vec_id").isin(qids))
        .select(F.col("vec_id").alias("qid"), "xv")
        .crossJoin(cent)
        .select("qid", "cid", dot_xc.alias("sim"))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= max(RECALL_PROBES))
    )
    np_df = spark.createDataFrame([(p,) for p in RECALL_PROBES], "n_probe int")
    probes = (
        pr.crossJoin(F.broadcast(np_df))
        .filter(F.col("prn") <= F.col("n_probe"))
        .select("qid", "n_probe", "cid")
    )
    iw = Window.partitionBy("qid", "n_probe").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    # r12 (guide §1.2/§2.6): the three method branches (IVF sweep, LSH,
    # PQ-ADC) were three separate driver actions — three full
    # analyze/optimize/schedule round-trips for a report whose runtime is
    # ~100% that overhead (sf0.001 steady == sf0.1 record). One unioned
    # (method, n_probe, hits) aggregate collects ONCE, and the branch
    # stages overlap inside a single job. Each branch's aggregation is
    # unchanged (count() -> count(1) over the same frame), so every hit
    # count — and the report — is value-identical.
    ivf_branch = (
        assigned.join(F.broadcast(probes), "cid")
        .select("qid", "n_probe", "vec_id")
        .join(scored, ["qid", "vec_id"])
        .withColumn("rn", F.row_number().over(iw))
        .filter(F.col("rn") <= TOPK)
        .join(truth, ["qid", "vec_id"], "left_semi")
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("hits"))
        .select(F.lit("ivf").alias("m"), "n_probe", "hits")
    )

    # --- LSH: left-assoc signature expression (the signature_expr twin
    # of the inlined-plane oracle), Hamming<=2 probe as a bit_count join
    from ..operators.similarity import signature_expr

    signed = emb.select(
        "vec_id", signature_expr("embedding", _RECALL_PLANES).alias("bkt")
    ).localCheckpoint(eager=True)
    qsig = signed.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("bkt").alias("qbkt")
    )
    lw = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    lsh_branch = (
        signed.crossJoin(F.broadcast(qsig))
        .filter(F.bit_count(F.col("bkt").bitwiseXOR(F.col("qbkt"))) <= 2)
        .select("qid", "vec_id")
        .join(scored, ["qid", "vec_id"])
        .withColumn("rn", F.row_number().over(lw))
        .filter(F.col("rn") <= TOPK)
        .join(truth, ["qid", "vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("hits"))
        .select(F.lit("lsh").alias("m"), F.lit(0).alias("n_probe"), "hits")
    )

    # PQ-ADC: the compressed-store search approximates EUCLIDEAN distance,
    # so its recall is measured against the exact L2 top-k (a separate
    # truth set — cosine truth would conflate metric with approximation)
    from .pipelineq3 import PQ_SUB, _pq_core

    xq = emb.crossJoin(qdf)
    l2 = F.aggregate(
        F.zip_with(
            as_double_array(F.col("embedding")),
            as_double_array(F.col("qv")),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    l2w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    l2_truth = (
        xq.select("qid", "vec_id", l2.alias("d2"))
        .withColumn("rn", F.row_number().over(l2w))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "vec_id")
    )
    c1, a2 = _pq_core(spark, sf_dir)
    qsub = qdf.select(
        "qid", F.posexplode(F.col("qv")).alias("i", "x")
    ).select(
        "qid", (F.floor(F.col("i") / PQ_SUB) + 1).cast("int").alias("m"), "i", "x"
    ).groupBy("qid", "m").agg(
        F.array_sort(F.collect_list(F.struct("i", "x"))).alias("p")
    ).select(
        "qid", "m", F.transform("p", lambda s: s["x"].cast("double")).alias("qv")
    )
    qd = F.aggregate(
        F.zip_with("qv", "cv", lambda p, q: (p - q) * (p - q)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    adc = (
        a2.select("vec_id", "m", "cid")
        .join(F.broadcast(c1), ["m", "cid"])
        .join(F.broadcast(qsub), "m")
        .select("qid", "vec_id", F.round(qd, 6).alias("sd"))
        .groupBy("qid", "vec_id")
        .agg(_d2dw(F.sum(F.col("sd").cast("decimal(28,6)"))).alias("adc"))
    )
    adcw = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    adc_branch = (
        adc.withColumn("rn", F.row_number().over(adcw))
        .filter(F.col("rn") <= TOPK)
        .join(l2_truth, ["qid", "vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("hits"))
        .select(F.lit("adc").alias("m"), F.lit(0).alias("n_probe"), "hits")
    )

    res = ivf_branch.unionByName(lsh_branch).unionByName(adc_branch).collect()
    ivf_hits = {r["n_probe"]: r["hits"] for r in res if r["m"] == "ivf"}
    lsh_hits = next(r["hits"] for r in res if r["m"] == "lsh")
    adc_hits = next(r["hits"] for r in res if r["m"] == "adc")

    nq = len(qids)
    rows = [("lsh_hamming2", TOPK, nq, float(lsh_hits) / (TOPK * nq))] + [
        (f"ivf_16x{p}", TOPK, nq, float(ivf_hits.get(p, 0)) / (TOPK * nq))
        for p in RECALL_PROBES
    ]
    rows.append(("pq_adc_8x16_vs_l2", TOPK, nq, float(adc_hits) / (TOPK * nq)))

    return spark.createDataFrame(
        rows, "method string, k int, n_queries int, recall double"
    )


def _ann_recall_oracle(pq_chain: str, pq_sub: int, pq_m: int) -> str:
    """The full DuckDB twin of ann_recall_report: cosine/L2 truth sets,
    IVF Lloyd training + probe sweep, LSH signatures, PQ-ADC — every
    ranking reproduces the Spark plan's arithmetic term-for-term.
    ``pq_chain`` is pipelineq3's _PQ_CHAIN (x/c0/a1/c1/c1l/a2 CTEs)."""
    denom = TOPK * len(RECALL_QIDS)
    cos = (
        f"({_dot_sql('e.embedding', 'q.embedding', 1)}) / "
        f"(({_norm_sql('e.embedding', 1)}) * ({_norm_sql('q.embedding', 1)}))"
    )
    qd = " + ".join(
        f"(q.qv[{d}] - c.cv[{d}]) * (q.qv[{d}] - c.cv[{d}])" for d in range(1, pq_sub + 1)
    )
    l2sum = " + ".join(
        f"(CAST(e.embedding[{d}] AS DOUBLE) - CAST(q.embedding[{d}] AS DOUBLE))"
        f" * (CAST(e.embedding[{d}] AS DOUBLE) - CAST(q.embedding[{d}] AS DOUBLE))"
        for d in range(1, DIM + 1)
    )
    return f"""
{pq_chain}),
csc AS (SELECT q.vec_id AS qid, e.vec_id, {cos} AS cosine
        FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id IN {_QID_IN}) q),
ctru AS (SELECT qid, vec_id FROM (
         SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
         FROM csc) z WHERE rn <= {TOPK}),
{_ivf_chain_sql()},
inp AS (SELECT unnest([{', '.join(str(p) for p in RECALL_PROBES)}]) AS n_probe),
ipr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS prn
        FROM (SELECT q.vec_id AS qid, c.cid, ({_dotxx('q.xv', 'c.cv')}) AS sim
              FROM (SELECT * FROM ixn WHERE vec_id IN {_QID_IN}) q
              CROSS JOIN ic{IVF_ROUNDS} c) z),
icand AS (SELECT p.qid, inp.n_probe, f.vec_id
          FROM ipr p JOIN inp ON p.prn <= inp.n_probe JOIN iaf f ON f.cid = p.cid),
irk AS (SELECT qid, n_probe, vec_id,
               row_number() OVER (PARTITION BY qid, n_probe ORDER BY cosine DESC, vec_id) AS rn
        FROM icand JOIN csc USING (qid, vec_id)),
ihit AS (SELECT n_probe, count(*) AS h FROM irk JOIN ctru USING (qid, vec_id)
         WHERE rn <= {TOPK} GROUP BY n_probe),
ivfh AS (SELECT inp.n_probe, coalesce(ihit.h, 0) AS h
         FROM inp LEFT JOIN ihit ON inp.n_probe = ihit.n_probe),
lsig AS (SELECT vec_id, CAST({_lsh_sig_sql('embedding')} AS BIGINT) AS bkt FROM embeddings),
lrk AS (SELECT q.vec_id AS qid, s.vec_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY c.cosine DESC, s.vec_id) AS rn
        FROM lsig s JOIN (SELECT * FROM lsig WHERE vec_id IN {_QID_IN}) q
          ON bit_count(xor(s.bkt, q.bkt)) <= 2
        JOIN csc c ON c.qid = q.vec_id AND c.vec_id = s.vec_id),
lshh AS (SELECT count(*) AS h FROM lrk JOIN ctru ON ctru.qid = lrk.qid AND ctru.vec_id = lrk.vec_id
         WHERE lrk.rn <= {TOPK}),
pqq AS (SELECT vec_id AS qid, m,
               list_transform(list_slice(embedding, (m-1)*{pq_sub}+1, m*{pq_sub}),
                              v -> CAST(v AS DOUBLE)) AS qv
        FROM embeddings, (SELECT unnest(generate_series(1, {pq_m})) AS m)
        WHERE vec_id IN {_QID_IN}),
padc AS (SELECT q.qid, a2.vec_id,
                {_dwes(qd)} AS adc
         FROM a2 JOIN c1l c ON a2.m = c.m AND a2.cid = c.cid JOIN pqq q ON q.m = a2.m
         GROUP BY q.qid, a2.vec_id),
padct AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
          FROM padc) z WHERE rn <= {TOPK}),
pl2 AS (SELECT q.vec_id AS qid, e.vec_id, ({l2sum}) AS d2
        FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id IN {_QID_IN}) q),
pl2t AS (SELECT qid, vec_id FROM (
         SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
         FROM pl2) z WHERE rn <= {TOPK}),
pqh AS (SELECT count(*) AS h FROM padct JOIN pl2t ON pl2t.qid = padct.qid AND pl2t.vec_id = padct.vec_id)
SELECT 'lsh_hamming2' AS method, CAST({TOPK} AS INT) AS k,
       CAST({len(RECALL_QIDS)} AS INT) AS n_queries, CAST(h AS DOUBLE) / {denom} AS recall FROM lshh
UNION ALL
SELECT 'ivf_16x' || CAST(n_probe AS VARCHAR), CAST({TOPK} AS INT),
       CAST({len(RECALL_QIDS)} AS INT), CAST(h AS DOUBLE) / {denom} FROM ivfh
UNION ALL
SELECT 'pq_adc_8x16_vs_l2', CAST({TOPK} AS INT),
       CAST({len(RECALL_QIDS)} AS INT), CAST(h AS DOUBLE) / {denom} FROM pqh
"""


# ---------------------------------------------------------------------------
# Exact-oracled ANN queries (r10, round-9 verdict task 2): the former
# rows-only trio, rebuilt on the reproducible twins.
# ---------------------------------------------------------------------------

ANN_IVF_N_PROBE = 4

# Exact-twin IVF centroids are corpus-level state (like the shingle
# base): train once per (session, corpus), share between
# ann_recall_report (which passes its normalized frame ``xn``, used on a
# miss only) and ann_topk_ivf.
@memo
def _ivf_exact_centroids_cached(
    spark: SparkSession, sf_dir: str, xn: DataFrame | None = None
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").repartition(4)
    if xn is None:
        xn = _xn_frame(emb).localCheckpoint(eager=True)
    return _ivf_exact_centroids(spark, emb, xn)


_IVF_CENT_CACHE = _ivf_exact_centroids_cached.cache


@register(
    "ann_topk_lsh",
    oracle=f"""
WITH lsig AS (SELECT vec_id, CAST({_lsh_sig_sql('embedding')} AS BIGINT) AS bkt FROM embeddings),
q AS (SELECT bkt AS qbkt FROM lsig WHERE vec_id = 0),
cand AS (SELECT s.vec_id FROM lsig s CROSS JOIN q WHERE bit_count(xor(s.bkt, q.qbkt)) <= 2)
SELECT e.vec_id,
       round(({_dot_sql('e.embedding', 'qq.embedding', 1)})
             / (({_norm_sql('e.embedding', 1)}) * ({_norm_sql('qq.embedding', 1)})), 6) AS cosine
FROM embeddings e
JOIN cand ON cand.vec_id = e.vec_id
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
ORDER BY cosine DESC, e.vec_id ASC
LIMIT {TOPK}
""",
)
def ann_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-LSH bucket + Hamming-2 multi-probe.

    Measured on the synthetic embeddings (near-uniform pairwise cosine):
    recall@20 ~= 0.2 at ~15% of the data scanned — sign-LSH degrades
    when neighbors are barely closer than random points. ann_topk_ivf
    measures recall@20 ~= 0.8 on the same data and is the preferred
    scale path; both are kept (LSH wins when real embedding clusters
    exist and an unsupervised bucket key is needed at write time).

    Value-oracled since r10: ``reproducible=True`` computes corpus
    signatures with ``signature_expr`` (the ``_lsh_sig_sql`` twin), the
    query signature with the identical left-assoc Python loop, and
    rounds the re-rank cosine — the DuckDB oracle rebuilds the same
    buckets, probes Hamming<=2 via bit_count(xor), and re-ranks with the
    same arithmetic, so candidate set AND scores value-hash."""
    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qvec = [float(x) for x in qrow[0]]
    return ann_topk_lsh(emb, qvec, k=TOPK, n_planes=RECALL_N_PLANES, seed=42, reproducible=True)


@register(
    "ann_topk_ivf",
    oracle=f"""
WITH {_ivf_chain_sql()},
qpr AS (SELECT c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY ({_dotxx('q.xv', 'c.cv')}) DESC, c.cid) AS prn
        FROM (SELECT vec_id, xv FROM ixn WHERE vec_id = 0) q
        CROSS JOIN ic{IVF_ROUNDS} c),
cand AS (SELECT f.vec_id
         FROM iaf f JOIN (SELECT cid FROM qpr WHERE prn <= {ANN_IVF_N_PROBE}) p
           ON p.cid = f.cid)
SELECT e.vec_id,
       round(({_dot_sql('e.embedding', 'qq.embedding', 1)})
             / (({_norm_sql('e.embedding', 1)}) * ({_norm_sql('qq.embedding', 1)})), 6) AS cosine
FROM embeddings e
JOIN cand ON cand.vec_id = e.vec_id
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
ORDER BY cosine DESC, e.vec_id ASC
LIMIT {TOPK}
""",
)
def ann_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse quantizer + n_probe inverted lists + exact
    re-rank) — the partition-pruning scale path: list_id is the bucket
    key of the stored table at 100 TB.

    Value-oracled since r10: training is the exact-twin Lloyd loop
    (_ivf_exact_centroids — bounded sample, decimal means, left-assoc
    norms) ann_recall_report already oracles; the full-corpus list
    assignment, the query's probe ranking, and the candidate re-rank are
    the same struct-MAX / window / rounded-cosine constructions, so the
    DuckDB twin (_ivf_chain_sql) reproduces the candidate set and every
    score bit-for-bit. Centroids are trained once per (session, corpus)
    and shared with ann_recall_report (one memoized builder)."""
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings").repartition(4)
    xn = _xn_frame(emb)
    cent = F.broadcast(_ivf_exact_centroids_cached(spark, sf_dir))
    dot_xc = F.aggregate(
        F.zip_with("xv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    assigned = _argmax_sim(
        xn.crossJoin(cent).select("vec_id", "cid", dot_xc.alias("sim"))
    )
    pw = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid").asc())
    probe = (
        xn.filter(F.col("vec_id") == 0)
        .select(F.col("vec_id").alias("qid"), "xv")
        .crossJoin(cent)
        .select("qid", "cid", dot_xc.alias("sim"))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= ANN_IVF_N_PROBE)
        .select("cid")
    )
    cand = assigned.join(F.broadcast(probe), "cid").select("vec_id")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qlit = F.array(*[F.lit(float(v)) for v in qrow[0]])
    sim = F.round(cosine_expr(as_double_array(F.col("embedding")), qlit), 6)
    return (
        emb.join(cand, "vec_id", "left_semi")
        .select("vec_id", sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOPK)
    )


@register(
    "embedding_near_dup_lsh",
    oracle=f"""
WITH lsig AS (SELECT vec_id, embedding,
                     CAST({_lsh_sig_sql('embedding')} AS BIGINT) AS bkt
              FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(({_dot_sql('a.embedding', 'b.embedding', 1)})
             / (({_norm_sql('a.embedding', 1)}) * ({_norm_sql('b.embedding', 1)})), 6) AS cosine
FROM lsig a JOIN lsig b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE round(({_dot_sql('a.embedding', 'b.embedding', 1)})
            / (({_norm_sql('a.embedding', 1)}) * ({_norm_sql('b.embedding', 1)})), 6)
      >= {PAIR_THRESHOLD}
""",
)
def embedding_near_dup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked near-dup pairs (cosine >= threshold within one sign-
    LSH bucket) — the sub-quadratic sibling of cosine_pairs_bruteforce.

    Value-oracled since r10 via ``reproducible=True``: signatures are
    the ``signature_expr``/_lsh_sig_sql twins and the pair cosine is
    rounded before the threshold, so the emitted pair set (a strict,
    deterministic subset of the brute-force pairs — exactly those
    colliding in their single bucket) value-hashes against DuckDB."""
    emb = t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=PAIR_THRESHOLD, n_planes=RECALL_N_PLANES, seed=42, reproducible=True
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd's) over the embedding corpus — the curation primitive for
# diversity-aware sampling of training data (cluster, then sample per
# cluster). Two unrolled iterations, deterministic seeds (vec_id < K), and
# the pagerank-style exactness discipline: centroid means go through
# round(x,6)::DECIMAL then a single double division, and every distance is
# the same 64-term left-associated double expression in both engines — so
# assignments, counts, and inertia match bit-for-bit.

KM_K = 8


def _km_xcols(src: str) -> str:
    return ", ".join(f"CAST({src}[{d}] AS DOUBLE) AS x{d}" for d in range(1, DIM + 1))


def _km_dist_sql(x: str, c: str) -> str:
    return " + ".join(
        f"(({x}.x{d} - {c}.c{d}) * ({x}.x{d} - {c}.c{d}))" for d in range(1, DIM + 1)
    )


def _km_a2_ctes() -> str:
    """The 2-round Lloyd's CTE chain up to the final assignment ``a2``
    — shared by the k-means oracles here and the SemDeDup oracle in
    pipelineq3 (same clustering, different consumer)."""
    c0_cols = ", ".join(f"CAST(embedding[{d}] AS DOUBLE) AS c{d}" for d in range(1, DIM + 1))
    mean_cols = ", ".join(
        f"{_dwes(f'x.x{d}')} / count(*) AS c{d}"
        for d in range(1, DIM + 1)
    )
    return f"""x AS (SELECT vec_id, {_km_xcols('embedding')} FROM embeddings),
c0 AS (SELECT vec_id AS cid, {c0_cols} FROM embeddings WHERE vec_id < {KM_K}),
d1 AS (SELECT x.vec_id, c.cid, {_km_dist_sql('x', 'c')} AS dist
       FROM x CROSS JOIN c0 c),
a1 AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         FROM d1) r WHERE rn = 1),
c1 AS (SELECT a1.cid AS cid, {mean_cols}
       FROM a1 JOIN x USING (vec_id) GROUP BY a1.cid),
d2 AS (SELECT x.vec_id, c.cid, {_km_dist_sql('x', 'c')} AS dist
       FROM x CROSS JOIN c1 c),
a2 AS (SELECT vec_id, cid, dist FROM (
         SELECT vec_id, cid, dist,
                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         FROM d2) r WHERE rn = 1)"""


def _km_oracle() -> str:
    return f"""
WITH {_km_a2_ctes()}
SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
       {_dwes('dist')} AS inertia
FROM a2 GROUP BY cid
"""



def _km_final_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 2-round Lloyd's core: returns the post-update assignment
    frame (vec_id, cid, dist) both k-means queries aggregate from.

    Distances are an ARRAY FOLD — aggregate(zip_with(x, c, (a,b) ->
    (a-b)^2), 0.0, +) — which evaluates the identical left-associated
    64-term double sum the oracle spells out, bit-for-bit, while keeping
    the codegen tiny (the previous 64-column unrolled expression
    compiled 8x64-term projections; same-session A/B: 2.0 s vs 6.3 s
    steady-state at sf0.1, results byte-identical). The centroid update
    posexplodes (cid, dim, x) and partially aggregates map-side, so the
    shuffle carries at most (K x DIM x partitions) rows; the assignment
    join stays broadcast-NL with a per-vec window argmin (tie-break
    (dist, cid), same as the oracle's row_number)."""
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("xv")
    )

    def arr_dist(xc, cc):
        return F.aggregate(
            F.zip_with(xc, cc, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )

    def assign(cent: DataFrame) -> DataFrame:
        d = x.crossJoin(F.broadcast(cent)).withColumn(
            "dist", arr_dist(F.col("xv"), F.col("cv"))
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "dist", "xv")
        )

    c0 = emb.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda v: v.cast("double")).alias("cv"),
    )
    a1 = assign(c0)
    c1 = (
        a1.select("cid", F.posexplode("xv").alias("d", "xd"))
        .groupBy("cid", "d")
        .agg(
            F.sum(F.round(F.col("xd"), 6).cast("decimal(28,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("cid", "d", (_d2dw(F.col("s")) / F.col("n")).alias("cd"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cd"))).alias("p"))
        .select("cid", F.transform("p", lambda q: q["cd"]).alias("cv"))
    )
    return assign(c1).select("vec_id", "cid", "dist")


@register("kmeans_embeddings", oracle=_km_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round Lloyd's k-means (K=8, seeds = vec_id < 8): per-cluster
    size and inertia after one centroid update.

    Plan per round (_km_final_assignments): broadcast the K centroids
    (always tiny, whatever the corpus size), cross-join points x
    centroids with the unrolled squared-distance expression (JVM
    codegen, no UDF), argmin via a row_number window partitioned by
    vec_id, then one decimal-mean aggregation per cluster. The driver
    carries only K x DIM doubles between rounds — the same loop at
    100 TB shuffles each point once per round for the argmin and
    nothing else; K never grows with data. (At scale swap the per-point
    window for a groupBy-min_by; semantics identical.)"""
    a2 = _km_final_assignments(spark, sf_dir)
    return a2.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_points"),
        _d2dw(F.sum(F.round("dist", 6).cast("decimal(28,6)"))).alias("inertia"),
    )


@register(
    "cluster_stratified_sample",
    oracle=_km_oracle().replace(
        f"""SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
       {_dwes('dist')} AS inertia
FROM a2 GROUP BY cid""",
        """SELECT cid, vec_id FROM (
  SELECT cid, vec_id,
         row_number() OVER (PARTITION BY cid ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn
  FROM a2) s WHERE srn <= 5""",
    ),
)
def cluster_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware sampling: k-means cluster assignment (same 2-round
    Lloyd's as `kmeans_embeddings`) then a DETERMINISTIC 5-per-cluster
    sample ordered by md5(vec_id) — the cluster-then-sample curation
    pattern that keeps a training subset spread across the embedding
    space instead of oversampling the dense regions. The md5 order makes
    the sample reproducible across runs, engines, and partitionings
    (same property as hash_stratified_sample); sampling is a per-cluster
    top-k window, never a shuffle of the full corpus."""
    from pyspark.sql import Window

    a2 = _km_final_assignments(spark, sf_dir)
    sw = Window.partitionBy("cid").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return (
        a2.withColumn("srn", F.row_number().over(sw))
        .filter(F.col("srn") <= 5)
        .select("cid", "vec_id")
    )

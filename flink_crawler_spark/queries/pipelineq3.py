"""Training-data pipeline operators, wave 4 — the published curation
stack, all exact-oracled (beyond-reference; the reference stops at
page-level TSV export, ``CrawlTopologyBuilder.java:455-463``):

  * semdedup_prune — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embedding corpus, then drop within-cluster
    cosine near-duplicates; clustering turns the O(n^2) pairwise
    problem into sum-of-cluster-squares (the paper runs K=50k on 5B
    embeddings — K grows with corpus size to bound cluster width).
  * corpus_shuffle_shard — deterministic md5-keyed global shuffle +
    uniform shard ids + per-shard positions; the training-tape layout.
  * pq_codebook_encode / ann_topk_pq_adc — product quantization
    (per-subspace exact-Lloyd codebooks, 64 floats -> 8 codes) and the
    ADC lookup-table search over the codes: the IVF-PQ storage+query
    layout a 100 TB embedding store runs.
  * gopher_quality_filter — the published Gopher A1.1.1 heuristic
    quality rules as one codegen'd projection.
  * incremental_ingest_dedup — new-batch-vs-corpus-history admission
    via digest tables (the production ingestion shape; only the new
    batch shuffles).
  * char_dup_spans — the exact-substring duplication signal (Lee et
    al. 2022, arXiv:2107.06499): strided fixed-length char spans
    hashed and counted across docs; the suffix-array pass collapses,
    distributed, to a hash-groupBy over 16-byte span keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import memo, register, t
from .base import dec_to_double_wide as _d2dw
from .base import dsum_wide_expr_sql as _dwes
from .base import dec_to_double_wide_sql as _d2dws
from .simq import PAIR_THRESHOLD, _km_a2_ctes, _norm_sql
from .simq import _km_final_assignments

# ---------------------------------------------------------------------------
# semdedup_prune
# ---------------------------------------------------------------------------

_SEM_DOT = " + ".join(f"ea.emb[{i}] * eb.emb[{i}]" for i in range(1, 65))


@register(
    "semdedup_prune",
    oracle=f"""
WITH {_km_a2_ctes()},
e AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb,
         {_norm_sql('embedding', 1)} AS nrm
  FROM embeddings
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(({_SEM_DOT}) / (ea.nrm * eb.nrm), 6) >= {PAIR_THRESHOLD}
)
SELECT a2.vec_id, a2.cid, d.vec_id IS NULL AS keep
FROM a2 LEFT JOIN dropped d ON a2.vec_id = d.vec_id
""",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: cluster (2-round Lloyd's, the exact
    shared kmeans core), then within each cluster drop every vector that
    has a LOWER-id neighbor with round(cosine, 6) >= threshold — the
    deterministic keep-one-representative rule (the paper keeps the
    point closest to the centroid; keep-lowest-id is the same pruning
    set size with an engine-independent tie-break).

    Plan: assignments reuse the broadcast-centroid kmeans; the pair join
    shuffles once on cid and is quadratic only within a cluster; the
    drop set comes back as one broadcast-able distinct frame. Cosines
    are left-associated 64-term double sums (aggregate over zip_with),
    bit-identical to the oracle's spelled-out arithmetic."""
    a2 = _km_final_assignments(spark, sf_dir).select("vec_id", "cid")
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("emb", lambda v: v * v),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
        ),
    )
    ea = a2.join(e, "vec_id").select(
        F.col("cid"),
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = a2.join(e, "vec_id").select(
        F.col("cid"),
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda p, q: p * q),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    dropped = (
        ea.join(eb, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 6) >= PAIR_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return a2.join(dropped, "vec_id", "left").select(
        "vec_id", "cid", F.col("__dropped").isNull().alias("keep")
    )


# ---------------------------------------------------------------------------
# corpus_shuffle_shard
# ---------------------------------------------------------------------------

N_SHARDS = 64
_HEX = "0123456789abcdef"


@register(
    "corpus_shuffle_shard",
    oracle=f"""
WITH k AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key
  FROM documents
),
s AS (
  SELECT doc_id, key,
         CAST(((strpos('{_HEX}', substr(key, 1, 1)) - 1) * 16
               + (strpos('{_HEX}', substr(key, 2, 1)) - 1)) % {N_SHARDS}
              AS INT) AS shard
  FROM k
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1
            AS BIGINT) AS pos
FROM s
""",
)
def corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + shard assignment: the training-tape
    layout stage. md5(doc_id) gives an engine-independent pseudo-random
    order; the key's first two hex digits give a uniform shard id
    (md5 hex digits are uniform over 16 values, and 256 % N_SHARDS == 0
    keeps the fold exact); per-shard position is a window PARTITIONED BY
    shard — no global sort, no single-partition stage, and writing the
    shards is then one partitionBy(shard) parquet write. At 100 TB the
    same plan holds: one shuffle on shard, window state bounded by the
    largest shard (corpus/N, tunable via N_SHARDS)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")).alias("key"),
    )
    def hexv(i: int):
        return F.expr(f"locate(substr(key, {i}, 1), '{_HEX}') - 1")

    d = d.withColumn("shard", ((hexv(1) * 16 + hexv(2)) % N_SHARDS).cast("int"))
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return d.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# pq_codebook_encode — product quantization (the IVF-PQ storage layout)
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_SUB = 8      # dims per subspace (M * SUB = 64 = DIM)
PQ_K = 16       # centroids per subspace codebook

_PQ_DIST = " + ".join(
    f"(x.sv[{d}] - c.cv[{d}]) * (x.sv[{d}] - c.cv[{d}])" for d in range(1, PQ_SUB + 1)
)
_PQ_MEANS = ", ".join(
    f"{_dwes(f'x.sv[{d}]')} / count(*) AS m{d}"
    for d in range(1, PQ_SUB + 1)
)
_PQ_MEAN_LIST = "[" + ", ".join(f"m{d}" for d in range(1, PQ_SUB + 1)) + "]"


_PQ_ENCODE_ORACLE = f"""
WITH x AS (
  SELECT vec_id, m,
         list_transform(list_slice(embedding, (m-1)*{PQ_SUB}+1, m*{PQ_SUB}),
                        v -> CAST(v AS DOUBLE)) AS sv
  FROM embeddings, (SELECT unnest(generate_series(1, {PQ_M})) AS m)
),
c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM x WHERE vec_id < {PQ_K}),
a1 AS (
  SELECT vec_id, m, cid FROM (
    SELECT x.vec_id, x.m, c.cid,
           row_number() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY {_PQ_DIST}, c.cid) AS rn
    FROM x JOIN c0 c ON x.m = c.m) r
  WHERE rn = 1
),
c1 AS (
  SELECT a1.m, a1.cid, {_PQ_MEANS}
  FROM a1 JOIN x ON a1.vec_id = x.vec_id AND a1.m = x.m
  GROUP BY a1.m, a1.cid
),
c1l AS (SELECT m, cid, {_PQ_MEAN_LIST} AS cv FROM c1),
a2 AS (
  SELECT vec_id, m, cid, dist FROM (
    SELECT x.vec_id, x.m, c.cid, {_PQ_DIST} AS dist,
           row_number() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY {_PQ_DIST}, c.cid) AS rn
    FROM x JOIN c1l c ON x.m = c.m) r
  WHERE rn = 1
)
SELECT vec_id, CAST(m AS INT) AS m, CAST(cid AS BIGINT) AS code,
       round(dist, 6) AS sub_err
FROM a2
"""


@memo
def _pq_core(spark: SparkSession, sf_dir: str):
    """Shared PQ train+encode core: split each embedding into PQ_M
    subspaces of PQ_SUB dims, train a PQ_K-centroid codebook per
    subspace (2-round Lloyd's, seeds = vec_id < K — the proven
    exact-kmeans discipline). Returns (codebooks c1 as (m, cid, cv),
    final assignments a2 as (vec_id, m, cid, dist)) — consumed by
    pq_codebook_encode, ann_topk_pq_adc, and ann_recall_report, and
    therefore memoized per (session, corpus) like the other family
    builders (r7 pattern) — a
    production IVF-PQ store trains/encodes once per corpus snapshot.

    Plan shape: subspace id is a KEY COLUMN, so one assign/update/assign
    chain covers all subspaces at once — codebooks stay broadcast
    (M x K x PQ_SUB doubles regardless of corpus size), the centroid
    update partial-aggregates map-side, and every distance is the same
    left-associated fold both engines evaluate bit-for-bit."""
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    ms = spark.range(1, PQ_M + 1).select(F.col("id").cast("int").alias("m"))
    x = (
        emb.crossJoin(F.broadcast(ms))
        .select(
            "vec_id",
            "m",
            F.transform(
                F.slice("embedding", (F.col("m") - 1) * PQ_SUB + 1, PQ_SUB),
                lambda v: v.cast("double"),
            ).alias("sv"),
        )
    )

    def sub_dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )

    def assign(cent: DataFrame, with_dist: bool) -> DataFrame:
        d = x.join(F.broadcast(cent), "m").withColumn(
            "dist", sub_dist(F.col("sv"), F.col("cv"))
        )
        w = Window.partitionBy("vec_id", "m").orderBy("dist", "cid")
        out = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        cols = ["vec_id", "m", "cid"] + (["dist"] if with_dist else ["sv"])
        return out.select(*cols)

    c0 = x.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    a1 = assign(c0, with_dist=False)
    c1 = (
        a1.select("m", "cid", F.posexplode("sv").alias("d", "xd"))
        .groupBy("m", "cid", "d")
        .agg(
            F.sum(F.round(F.col("xd"), 6).cast("decimal(28,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("m", "cid", "d", (_d2dw(F.col("s")) / F.col("n")).alias("cd"))
        .groupBy("m", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cd"))).alias("p"))
        .select("m", "cid", F.transform("p", lambda q: q["cd"]).alias("cv"))
    )
    a2 = assign(c1, with_dist=True)
    return c1.localCheckpoint(eager=True), a2.localCheckpoint(eager=True)


_PQ_CORE_CACHE = _pq_core.cache


def pq_codebook_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: every vector as its per-subspace nearest codeword plus
    residual error — the compression layout a 100 TB embedding store
    persists (IVF-PQ): 64 floats become PQ_M codes, and ANN distance
    tables work off the broadcast-size codebooks alone."""
    _, a2 = _pq_core(spark, sf_dir)
    return a2.select(
        "vec_id",
        "m",
        F.col("cid").cast("long").alias("code"),
        F.round("dist", 6).alias("sub_err"),
    )


register("pq_codebook_encode", oracle=_PQ_ENCODE_ORACLE)(pq_codebook_encode)


# ---------------------------------------------------------------------------
# ann_topk_pq_adc — asymmetric distance computation over the PQ codes
# ---------------------------------------------------------------------------

_PQ_QDIST = " + ".join(
    f"(q.qv[{d}] - c.cv[{d}]) * (q.qv[{d}] - c.cv[{d}])" for d in range(1, PQ_SUB + 1)
)
_PQ_CHAIN = _PQ_ENCODE_ORACLE.split("SELECT vec_id, CAST(m AS INT)")[0].rstrip().rstrip(")")


@register(
    "ann_topk_pq_adc",
    oracle=f"""
{_PQ_CHAIN}),
q AS (
  SELECT m,
         list_transform(list_slice(embedding, (m-1)*{PQ_SUB}+1, m*{PQ_SUB}),
                        v -> CAST(v AS DOUBLE)) AS qv
  FROM embeddings, (SELECT unnest(generate_series(1, {PQ_M})) AS m)
  WHERE vec_id = 0
),
adc AS (
  SELECT a2.vec_id,
         {_dwes(_PQ_QDIST)} AS adc
  FROM a2
  JOIN c1l c ON a2.m = c.m AND a2.cid = c.cid
  JOIN q ON q.m = a2.m
  GROUP BY a2.vec_id
)
SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 20
""",
)
def ann_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over PQ codes via asymmetric distance computation
    (ADC): the query vector stays exact, every database vector is
    approximated by its per-subspace codeword, and the distance is the
    sum of query-to-codeword subdistances — the lookup-table search
    IVF-PQ indexes run. With M*K codebook entries the per-query cost is
    a broadcast join against the (vec_id, m, code) table + one decimal
    sum per vector: no raw embedding is ever touched at query time,
    which is the entire point of the compressed store at 100 TB.
    Exact-oracled: subdistances round to 6dp and sum as DECIMAL, so the
    total is order-independent and bit-identical across engines."""
    c1, a2 = _pq_core(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    ms = spark.range(1, PQ_M + 1).select(F.col("id").cast("int").alias("m"))
    qsub = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(ms))
        .select(
            "m",
            F.transform(
                F.slice("embedding", (F.col("m") - 1) * PQ_SUB + 1, PQ_SUB),
                lambda v: v.cast("double"),
            ).alias("qv"),
        )
    )
    qd = F.aggregate(
        F.zip_with("qv", "cv", lambda p, q: (p - q) * (p - q)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    per_m = (
        a2.select("vec_id", "m", "cid")
        .join(F.broadcast(c1), ["m", "cid"])
        .join(F.broadcast(qsub), "m")
        .select("vec_id", F.round(qd, 6).alias("sd"))
    )
    adc = per_m.groupBy("vec_id").agg(
        _d2dw(F.sum(F.col("sd").cast("decimal(28,6)"))).alias("adc")
    )
    return adc.orderBy("adc", "vec_id").limit(20)


# ann_recall_report (r8, round-7 verdict task 5): the function lives in
# simq (it sweeps IVF/LSH/PQ together); registration happens HERE because
# its oracle embeds this module's _PQ_CHAIN and simq must not import
# pipelineq3 at module level (pipelineq3 already imports simq).
from .simq import _ann_recall_oracle as _arr_oracle  # noqa: E402
from .simq import ann_recall_report as _arr_fn  # noqa: E402

register("ann_recall_report", oracle=_arr_oracle(_PQ_CHAIN, PQ_SUB, PQ_M))(_arr_fn)


# ---------------------------------------------------------------------------
# gopher_quality_filter — the published heuristic quality gate
# ---------------------------------------------------------------------------

# Rae et al. 2021 (Gopher, appendix A1.1.1) thresholds
G_MIN_WORDS, G_MAX_WORDS = 50, 100_000
G_MIN_MWL, G_MAX_MWL = 3.0, 10.0
G_MAX_SYMBOL_RATIO = 0.1
G_MIN_ALPHA_FRAC = 0.8
G_MIN_STOP_HITS = 2
G_MAX_BULLET_FRAC = 0.1
G_MAX_ELLIPSIS_FRAC = 0.3
G_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_G_WS = r"[ \t\n\f\r]+"  # explicit class: Java vs RE2 \s differ on \x0B


@register(
    "gopher_quality_filter",
    oracle=f"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '{_G_WS}'), x -> x != '') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id, text, lines,
         len(words) AS n_words,
         list_sum(list_transform(words, x -> length(x))) AS tot_chars,
         len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym,
         {" + ".join(f"CASE WHEN list_contains(list_transform(words, x -> lower(x)), '{s}') THEN 1 ELSE 0 END" for s in G_STOPS)}
           AS stop_hits,
         len(list_filter(lines, l -> starts_with(ltrim(l), '-')
                                   OR starts_with(ltrim(l), chr(8226)))) AS n_bullet,
         len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS n_ell
  FROM w
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(CASE WHEN n_words > 0 THEN CAST(tot_chars AS DOUBLE) / n_words ELSE 0.0 END, 6) AS mean_word_len,
       round(CASE WHEN n_words > 0 THEN CAST(n_sym AS DOUBLE) / n_words ELSE 0.0 END, 6) AS symbol_ratio,
       round(CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END, 6) AS alpha_frac,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       (n_words >= {G_MIN_WORDS} AND n_words <= {G_MAX_WORDS}
        AND CAST(tot_chars AS DOUBLE) / n_words >= {G_MIN_MWL}
        AND CAST(tot_chars AS DOUBLE) / n_words <= {G_MAX_MWL}
        AND CAST(n_sym AS DOUBLE) / n_words < {G_MAX_SYMBOL_RATIO}
        AND CAST(n_alpha AS DOUBLE) / n_words > {G_MIN_ALPHA_FRAC}
        AND stop_hits >= {G_MIN_STOP_HITS}
        AND CAST(n_bullet AS DOUBLE) / len(lines) <= {G_MAX_BULLET_FRAC}
        AND CAST(n_ell AS DOUBLE) / len(lines) <= {G_MAX_ELLIPSIS_FRAC}) AS keep
FROM m
""",
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, A1.1.1) — the
    canonical heuristic gate every large text corpus runs before
    training: word-count window, mean word length 3..10, symbol(#/...)
    -to-word ratio, alphabetic-word fraction, required-stopword count,
    bullet-start and ellipsis-end line fractions. One codegen'd
    projection over the documents scan (array HOFs, no shuffle, no
    Python) — the 100 TB plan is the scan itself. Ratios are exact
    int/int double divisions, so the keep booleans match the oracle
    bit-for-bit.

    On the synthetic word-salad corpus the required-stopword rule
    correctly rejects every document (stop_hits tops out below 2) —
    exactly what Gopher's gate is FOR; the per-rule columns carry the
    discriminating signal and a test pins that the stopword rule, not a
    bug, is the binding constraint."""
    d = t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), _G_WS), lambda x: x != "")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(words)
    tot_chars = F.aggregate(
        F.transform(words, lambda x: F.length(x)), F.lit(0), lambda a, v: a + v
    )
    n_alpha = F.size(F.filter(words, lambda x: x.rlike("[a-zA-Z]")))
    n_sym = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ) + F.floor(
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit(""))))
        / 3
    ).cast("int")
    lw = F.transform(words, lambda x: F.lower(x))
    stop_hits = sum(
        F.when(F.array_contains(lw, s), 1).otherwise(0) for s in G_STOPS
    )
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-") | F.ltrim(l).startswith("•"),
        )
    )
    n_ell = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    n_lines = F.size(lines)
    # n_words == 0 guard (whitespace-only doc): DuckDB's list_sum of an
    # empty list is NULL and its ratios go NULL, Spark's aggregate seed
    # gives 0 and 0/0 gives NaN — pin BOTH sides to a 0.0 sentinel so
    # the pair stays exact on corpora with empty docs.
    has_words = n_words > 0
    mwl = F.when(has_words, tot_chars.cast("double") / n_words).otherwise(F.lit(0.0))
    symr = F.when(has_words, n_sym.cast("double") / n_words).otherwise(F.lit(0.0))
    alphaf = F.when(has_words, n_alpha.cast("double") / n_words).otherwise(F.lit(0.0))
    keep = (
        (n_words >= G_MIN_WORDS) & (n_words <= G_MAX_WORDS)
        & (mwl >= G_MIN_MWL) & (mwl <= G_MAX_MWL)
        & (symr < G_MAX_SYMBOL_RATIO)
        & (alphaf > G_MIN_ALPHA_FRAC)
        & (stop_hits >= G_MIN_STOP_HITS)
        & (n_bullet.cast("double") / n_lines <= G_MAX_BULLET_FRAC)
        & (n_ell.cast("double") / n_lines <= G_MAX_ELLIPSIS_FRAC)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(symr, 6).alias("symbol_ratio"),
        F.round(alphaf, 6).alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# incremental_ingest_dedup — new batch vs corpus history
# ---------------------------------------------------------------------------


@register(
    "incremental_ingest_dedup",
    oracle="""
WITH hist AS (
  SELECT md5(text) AS dig,
         md5(array_to_string(list_filter(
             string_split_regex(lower(text), '[^a-z0-9À-ɏ一-鿿]+'), x -> x != ''), ' ')) AS norm
  FROM documents WHERE regexp_matches(source, '^src[0-9]$')
),
batch AS (
  SELECT doc_id, md5(text) AS dig,
         md5(array_to_string(list_filter(
             string_split_regex(lower(text), '[^a-z0-9À-ɏ一-鿿]+'), x -> x != ''), ' ')) AS norm
  FROM documents WHERE NOT regexp_matches(source, '^src[0-9]$')
)
SELECT b.doc_id,
       EXISTS (SELECT 1 FROM hist h WHERE h.dig = b.dig) AS dup_exact,
       EXISTS (SELECT 1 FROM hist h WHERE h.norm = b.norm) AS dup_normalized,
       NOT EXISTS (SELECT 1 FROM hist h WHERE h.norm = b.norm) AS admitted
FROM batch b
""",
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the production shape where a NEW
    batch is deduplicated against the ACCUMULATED corpus, not against
    itself. History = sources src0..src9, batch = the rest; a batch doc
    is rejected when its exact digest or its whitespace/punctuation-
    normalized fingerprint already exists in history (normalized
    catches trivially-reformatted reposts that exact md5 misses).

    Scale shape: the history side is a digest TABLE (two 16-byte
    columns per historical doc — a 100 TB corpus compresses to a few
    TB of digests, stored bucketed by digest), and admission is two
    left-semi joins on those buckets; the new batch alone shuffles.
    The full-corpus variants (dedup_exact, minhash/LSH) stay for
    intra-batch dedup — this operator is the cross-snapshot half."""
    from ..functions.text import fingerprint_expr

    docs = t(spark, sf_dir, "documents")
    is_hist = F.col("source").rlike("^src[0-9]$")
    keyed = docs.select(
        "doc_id",
        is_hist.alias("__hist"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("dig"),
        fingerprint_expr(F.col("text")).alias("norm"),
    )
    hist = keyed.filter("__hist")
    batch = keyed.filter(~F.col("__hist"))
    hist_dig = hist.select("dig").distinct().withColumn("__d", F.lit(True))
    hist_norm = hist.select("norm").distinct().withColumn("__n", F.lit(True))
    return (
        batch.join(hist_dig, "dig", "left")
        .join(hist_norm, "norm", "left")
        .select(
            "doc_id",
            F.coalesce("__d", F.lit(False)).alias("dup_exact"),
            F.coalesce("__n", F.lit(False)).alias("dup_normalized"),
            (~F.coalesce("__n", F.lit(False))).alias("admitted"),
        )
    )


# ---------------------------------------------------------------------------
# char_dup_spans — exact-substring dedup signal (Lee et al. 2022 shape)
# ---------------------------------------------------------------------------

SPAN_L = 40  # span length in chars (the paper dedups 50-token substrings)
SPAN_S = 20  # stride between span starts


@register(
    "char_dup_spans",
    oracle=f"""
WITH spans AS (
  SELECT doc_id, s, md5(substr(text, s, {SPAN_L})) AS h
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - {SPAN_L} + 1, {SPAN_S})) AS s
        FROM documents
        WHERE length(text) >= {SPAN_L})
),
freq AS (
  SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
per_doc AS (
  SELECT s.doc_id,
         count(*) AS n_spans,
         CAST(sum(CASE WHEN f.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM spans s LEFT JOIN freq f USING (h)
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       coalesce(p.n_dup, 0) AS n_dup_spans,
       round(coalesce(CAST(p.n_dup AS DOUBLE) / p.n_spans, 0.0), 6) AS dup_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
)
def char_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2022,
    arXiv:2107.06499 — 'Deduplicating Training Data Makes Language
    Models Better'): fixed-length character spans sampled every SPAN_S
    chars; a span whose exact bytes appear in >= 2 distinct documents is
    duplicated text, and each doc reports its duplicated-span fraction —
    the signal the paper's ExactSubstr pass cuts on. The suffix-array
    machinery of the paper collapses, distributed, to a hash-groupBy
    over strided spans: one shuffle on the span hash (16-byte keys, not
    the spans themselves), one shuffle back on doc_id; the hot-span set
    is the heavy-hitter tail. Token-level and segment-level twins:
    segment_boilerplate_filter, ngram_jaccard_pairs."""
    docs = t(spark, sf_dir, "documents")
    ln = F.length("text")
    starts = F.when(
        ln >= SPAN_L, F.sequence(F.lit(1), ln - SPAN_L + 1, F.lit(SPAN_S))
    ).otherwise(F.array().cast("array<int>"))
    spans = docs.select(
        "doc_id", F.explode(starts).alias("s"), "text"
    ).select("doc_id", F.md5(F.encode(F.expr(f"substring(text, s, {SPAN_L})"), "UTF-8")).alias("h"))
    # scanned twice (frequency + rebuild join): checkpoint the 16-byte
    # hash frame once instead of re-running explode+md5 over the corpus
    spans = spans.localCheckpoint(eager=True)
    freq = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
        .withColumn("__dup", F.lit(True))
    )
    per_doc = (
        spans.join(freq, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(False)).cast("long")).alias("n_dup"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.round(
            F.coalesce(F.col("n_dup").cast("double") / F.col("n_spans"), F.lit(0.0)), 6
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# dsir_importance_weights — hashed importance resampling toward a target
# ---------------------------------------------------------------------------

DSIR_B = 256          # hashed feature buckets (two md5 hex digits — uniform)
DSIR_TARGET = "src0"  # the high-quality target distribution


@register(
    "dsir_importance_weights",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, unnest(list_distinct({{toks}})) AS tok
  FROM documents
),
feats AS (
  SELECT DISTINCT doc_id, source,
         ((strpos('{_HEX}', substr(md5(tok), 1, 1)) - 1) * 16
          + (strpos('{_HEX}', substr(md5(tok), 2, 1)) - 1)) % {DSIR_B} AS b
  FROM toks
),
tgt AS (SELECT b, count(*) AS tc FROM feats WHERE source = '{DSIR_TARGET}' GROUP BY b),
raw AS (SELECT b, count(*) AS rc FROM feats GROUP BY b),
tots AS (
  SELECT (SELECT count(*) FROM feats WHERE source = '{DSIR_TARGET}') AS t_tot,
         (SELECT count(*) FROM feats) AS r_tot
),
ratio AS (
  SELECT r.b,
         round(ln((CAST(coalesce(t.tc, 0) + 1 AS DOUBLE) / (tots.t_tot + {DSIR_B}))
                / (CAST(r.rc + 1 AS DOUBLE) / (tots.r_tot + {DSIR_B}))), 6) AS lr
  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots
)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_feats,
       {_d2dws("sum(CAST(ratio.lr AS DECIMAL(28,6)))")} AS weight
FROM feats f JOIN ratio USING (b)
GROUP BY f.doc_id
""".replace("{toks}", "list_filter(string_split_regex(lower(text), '[^a-z0-9À-ɏ一-鿿]+'), x -> x <> '')"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169 — DSIR): score every document by how much its
    hashed-feature distribution looks like a TARGET corpus relative to
    the raw pool. Features are distinct tokens hashed into 256 buckets;
    each bucket carries ln of the add-one-smoothed target/raw presence
    ratio, and a doc's weight is the sum over its buckets — positive
    means target-like, the quantity DSIR resamples on.

    Exactness: the log-ratios round to 6dp and sum as DECIMAL (the
    repo's order-independent discipline; tfidf set the ln precedent),
    so weights match the oracle bit-for-bit. Scale shape: the bucket
    stats are a 256-row broadcast however big the corpus is; the only
    per-doc work is one explode + groupBy — and the same two-pass shape
    (estimate distributions on a sample, score the full corpus) is the
    paper's own recipe."""
    from ..functions.text import tokens_expr

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(tokens_expr(F.col("text")))).alias("tok")
    )
    bucket = (
        (F.expr(f"locate(substr(md5(tok), 1, 1), '{_HEX}') - 1") * 16
         + F.expr(f"locate(substr(md5(tok), 2, 1), '{_HEX}') - 1")) % DSIR_B
    )
    feats = toks.select("doc_id", "source", bucket.alias("b")).distinct()
    feats = feats.localCheckpoint(eager=True)  # scanned 3x (tgt/raw/score)
    tgt = feats.filter(F.col("source") == DSIR_TARGET).groupBy("b").agg(
        F.count(F.lit(1)).alias("tc")
    )
    raw = feats.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    t_tot = feats.filter(F.col("source") == DSIR_TARGET).count()
    r_tot = feats.count()
    ratio = (
        raw.join(tgt, "b", "left")
        .select(
            "b",
            F.round(
                F.log(
                    ((F.coalesce("tc", F.lit(0)) + 1).cast("double") / F.lit(float(t_tot + DSIR_B)))
                    / ((F.col("rc") + 1).cast("double") / F.lit(float(r_tot + DSIR_B)))
                ),
                6,
            ).alias("lr"),
        )
    )
    return (
        feats.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            _d2dw(F.sum(F.col("lr").cast("decimal(28,6)"))).alias("weight"),
        )
    )

"""Deduplication queries over the documents table.

All hashes are md5-based so the DuckDB oracle reproduces Spark's values
bit-for-bit (no engine-private hash functions in any compared output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    near_dup_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash64,
)
from .base import memo, register, t

# word tokens with the same split the Spark-side operators use
DUCK_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
# distinct word 3-gram shingles
DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),"
    " i -> array_to_string(toks[i:i+2], ' ')))"
)

NUM_HASHES = 8
BANDS = 4


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS digest,
       min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dupes
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content digest -> keep lowest doc_id (one shuffle of
    (digest, id) pairs only — the documents themselves never move)."""
    docs = t(spark, sf_dir, "documents")
    return exact_dedup(docs)


def _sigs_sql() -> str:
    mh_cols = ",\n         ".join(
        f"list_min(list_transform(sh, s -> md5('{k}|' || s))) AS mh{k}" for k in range(NUM_HASHES)
    )
    return f"""
toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {DUCK_SHINGLES} AS sh FROM toks),
sigs AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh
)
"""


@register(
    "minhash_signatures",
    oracle=f"""
WITH {_sigs_sql().strip()}
SELECT * FROM sigs
""",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.4): the memoized family signature table (derived
    # from the session-shared shingle base; bit-identical — see
    # minhash_sigs)
    return minhash_sigs(spark, sf_dir)


def _buckets_sql() -> str:
    rows_per_band = NUM_HASHES // BANDS
    unions = []
    for b in range(BANDS):
        parts = " || '|' || ".join(f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band))
        unions.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS bh FROM sigs")
    return "\nUNION ALL\n".join(unions)


@register(
    "lsh_candidate_pairs",
    oracle=f"""
WITH {_sigs_sql().strip()},
buckets AS (
{_buckets_sql()}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh
WHERE a.doc_id < b.doc_id
""",
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: near-dup candidates only materialize inside band
    buckets (equi-join on (band, band_hash)) — never O(n^2)."""
    sigs = minhash_signatures_q(spark, sf_dir)  # r12: shared shingle base
    return lsh_candidate_pairs(sigs, num_hashes=NUM_HASHES, bands=BANDS)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_sigs_sql().strip()},
buckets AS (
{_buckets_sql()}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
),
shs AS (SELECT doc_id, {DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents) x)
SELECT p.id_a, p.id_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6) AS jaccard
FROM pairs p
JOIN shs a ON p.id_a = a.doc_id
JOIN shs b ON p.id_b = b.doc_id
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification of LSH candidates (the verify
    stage of MinHash+LSH near-dup)."""
    # r12 (guide §2.4): signatures AND the verify side both come from the
    # session-shared shingle base instead of re-shingling the corpus twice
    from ..operators.dedup import _jaccard_on_shingles
    from .base import shingle_tables

    sets, _ = shingle_tables(spark, sf_dir, 3)
    sigs = minhash_signatures_q(spark, sf_dir)
    pairs = lsh_candidate_pairs(sigs, num_hashes=NUM_HASHES, bands=BANDS)
    j = _jaccard_on_shingles(sets, pairs, id_col="doc_id")
    return j.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _simhash_sql(as_cte: bool = False) -> str:
    """SimHash CTE chain; ``as_cte=True`` ends with an ``sh`` CTE holding
    (doc_id, simhash) instead of the final SELECT, for queries that
    build on the fingerprints."""
    vote_cols = ",\n         ".join(
        f"sum(((hv >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(60)
    )
    fp = " + ".join(f"(CAST(CASE WHEN v{i} > 0 THEN 1 ELSE 0 END AS BIGINT) << {i})" for i in range(60))
    base = f"""
toks AS (SELECT doc_id, unnest({DUCK_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv FROM toks),
votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM h GROUP BY doc_id
)"""
    if as_cte:
        return base + f""",
sh AS (SELECT doc_id, {fp} AS simhash FROM votes)"""
    return base + f"""
SELECT doc_id, {fp} AS simhash
FROM votes
"""


@register("doc_simhash", oracle=f"WITH {_simhash_sql().strip()}")
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document (token-count weighted)."""
    docs = t(spark, sf_dir, "documents")
    return simhash64(docs)


JACCARD_THRESHOLD = 0.6


@memo
def minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized family MinHash signature table (doc_id, mh0..mh7) at the
    family K, derived from the session-shared shingle base — five
    consumers (minhash_signatures, lsh_candidate_pairs, the calibration
    and containment verifies, the verified-pairs edge list) each re-ran
    the same min-aggregate over the exploded shingles (r12, guide §2.4).
    One materialization per corpus snapshot, values bit-identical (the
    keyed-md5 min is order-independent)."""
    from .base import shingle_tables

    # r13 (guide §2.4, the near_dup_pairs fusion): per-doc MINs as
    # array HOFs over the checkpointed shingle sets — map-only, no
    # explode + K-min shuffle. Bit-identical (min over the same md5
    # set; the oracle's own list_min(list_transform(...)) formula).
    # Empty-shingle docs produced NO row under the exploded groupBy —
    # the mh0 filter keeps that exact behavior.
    sets, _ = shingle_tables(spark, sf_dir, 3)
    return (
        sets.selectExpr(
            "doc_id",
            *[
                f"array_min(transform(sh, s -> md5(concat('{k}|', s)))) AS mh{k}"
                for k in range(NUM_HASHES)
            ],
        )
        .where("mh0 IS NOT NULL")
        .localCheckpoint(eager=True)
    )


_SIGS_CACHE = minhash_sigs.cache


@memo
def near_dup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized VERIFIED near-dup pair set (id_a, id_b) at the family
    threshold — the edge list of ``near_dup_clusters``, exposed so its
    other consumer (``cross_source_contamination``) stops re-running
    the signature -> band -> verify chain from raw text (r12, guide
    §2.4: the shingle/verify pass is the dominant cost of every query
    in this family and is identical across them).

    Derived from the session-shared shingle base: the per-doc shingle
    SET is what every downstream value depends on — the min-hash over
    exploded shingles is order/duplicate-independent, band hashes are
    functions of the signature values, and the exact Jaccard uses
    array_intersect/array_union sizes (set semantics) — so pairs are
    bit-identical to the previous from-raw-text derivation (the
    minhash_signatures precedent). Memoized per (session, corpus) like
    the clustering itself: one materialization per corpus snapshot."""
    from ..operators.dedup import _jaccard_on_shingles
    from .base import shingle_tables

    sets, _ = shingle_tables(spark, sf_dir, 3)
    sigs = minhash_sigs(spark, sf_dir)
    cand = lsh_candidate_pairs(sigs, num_hashes=NUM_HASHES, bands=BANDS)
    return (
        _jaccard_on_shingles(sets, cand, id_col="doc_id")
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )


_VERIFIED_PAIRS_CACHE = near_dup_verified_pairs.cache


@register(
    "near_dup_clusters",
    oracle=f"""
WITH RECURSIVE {_sigs_sql().strip()},
buckets AS (
{_buckets_sql()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
),
shs AS (SELECT doc_id, {DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents) x),
verified AS (
  SELECT p.id_a, p.id_b
  FROM cand p
  JOIN shs a ON p.id_a = a.doc_id
  JOIN shs b ON p.id_b = b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT id_a AS src, id_b AS dst FROM verified
          UNION SELECT id_b, id_a FROM verified),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(lbl) AS cluster_id
FROM reach GROUP BY id
""",
)
@memo
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup clustering: MinHash -> LSH candidates -> exact
    Jaccard verify -> connected components (iterative HashMin in the
    driver). The oracle recomputes the same graph and takes the
    transitive-closure min label via a recursive CTE — any drift in
    signatures, banding, verification, or the component iteration
    breaks the match.

    The (doc_id, cluster_id) assignment is memoized per (session,
    corpus) like the family shingle base (r7, verdict task 5): four
    downstream queries (keep_best, survivor-quality, cluster-histogram,
    quality-calibration) consume the SAME deterministic clustering, and
    a production dedup materializes it once per corpus snapshot."""
    from ..operators.dedup import connected_components

    docs = t(spark, sf_dir, "documents")
    edges = near_dup_verified_pairs(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return connected_components(
        docs.select("doc_id"), edges, id_col="doc_id"
    ).select("doc_id", "cluster_id").localCheckpoint(eager=True)


_CLUSTER_CACHE = near_dup_clusters.cache


@register(
    "fuzzy_name_pairs",
    oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 10
""",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: candidate pairs only within a
    (brand, size) block — the blocking-key pattern that keeps fuzzy
    dedup O(sum block^2) instead of O(n^2) — then exact Levenshtein
    verify JVM-side (built-in `levenshtein`, identical algorithm in
    DuckDB, so the integer distances match exactly). The string-domain
    sibling of the MinHash->LSH->verify pipeline: block, then verify,
    never all-pairs. At 100 TB blocks shuffle on their key and a hot
    block is the skew unit (cap or salt it, as lsh_candidate_pairs
    does)."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .withColumn("edit_dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).cast("bigint"))
        .filter(F.col("edit_dist") <= 10)
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            "edit_dist",
        )
    )


from .textops import QUALITY_CTES as _QUALITY_CTES  # noqa: E402
from .textops import QUALITY_SELECT as _QUALITY_SELECT  # noqa: E402


@register(
    "near_dup_keep_best",
    oracle=f"""
WITH RECURSIVE {_sigs_sql().strip()},
buckets AS (
{_buckets_sql()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
),
shs AS (SELECT doc_id, {DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents) x),
verified AS (
  SELECT p.id_a, p.id_b
  FROM cand p
  JOIN shs a ON p.id_a = a.doc_id
  JOIN shs b ON p.id_b = b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT id_a AS src, id_b AS dst FROM verified
          UNION SELECT id_b, id_a FROM verified),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
{_QUALITY_CTES},
q AS (SELECT doc_id, {_QUALITY_SELECT} AS quality FROM parts),
j AS (SELECT c.cluster_id, c.doc_id, q.quality
      FROM clusters c JOIN q USING (doc_id))
SELECT cluster_id, n_members, doc_id AS keep_doc_id, quality AS best_quality
FROM (SELECT cluster_id, doc_id, quality,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id ASC) AS rn
      FROM j) x
WHERE rn = 1
""",
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION a training pipeline materializes: per near-dup
    cluster (same MinHash->LSH->verify->components chain as
    near_dup_clusters), keep the highest-quality member (quality desc,
    doc_id asc tie-break) — dedup keeps the BEST copy, not an arbitrary
    one. Quality is the shared Gopher-style score (textops.QUALITY_*),
    so both this query's argmax and the oracle's min_by see identical
    doubles. One window over the cluster assignment; everything upstream
    is the already-tested pipeline."""
    from pyspark.sql import Window

    from ..functions.text import quality_score_expr

    docs = t(spark, sf_dir, "documents")
    clusters = near_dup_clusters(spark, sf_dir)
    quality = docs.select("doc_id", quality_score_expr(F.col("text")).alias("quality"))
    j = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("n_members").cast("bigint"),
            F.col("doc_id").alias("keep_doc_id"),
            F.col("quality").alias("best_quality"),
        )
    )


PP_T = 0.6  # Jaccard threshold for the prefix-filtered similarity join


@register(
    "ppjoin_pairs",
    oracle=f"""
WITH d AS (SELECT doc_id,
                  list_sort(list_distinct(list_filter(
                      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS toks
           FROM documents WHERE n_chars <= 220),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jac
      FROM d a JOIN d b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(jac, 6) AS jaccard
FROM p WHERE jac >= {PP_T}
""",
)
def ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family):
    unlike LSH (probabilistic candidates), the prefix filter is
    LOSSLESS — tokens get a global rarity order, each doc keeps only its
    first |s| - ceil(t*|s|) + 1 rarest tokens as its prefix, and any
    pair with Jaccard >= t provably shares a prefix token. Candidates =
    equi-join on prefix token (rare tokens -> tiny buckets), then exact
    verify. The oracle brute-forces all pairs on the same restricted
    corpus and must produce the IDENTICAL pair set — proving
    losslessness, not just plausibility. At 100 TB this is the exact
    dedup join you run when LSH's false negatives are unacceptable;
    frequency-ascending prefixes keep the candidate blow-up bounded by
    rare-token bucket sizes. (This synthetic corpus is adversarial for
    prefix filtering — ~40-word vocabulary means no token is rare and
    docs are same-length, so both filters prune little and the exact
    join costs ~10 s at sf0.1; on a natural corpus rare tokens make
    prefix buckets tiny. LSH stays the cheap path; this is the exact
    one.)"""
    from ..operators import ensure_parallelism

    docs = t(spark, sf_dir, "documents").filter(F.col("n_chars") <= 220)
    # consumed THREE times (df-rank agg, verify id_a side, verify id_b
    # side): checkpoint so the tokenize runs once, not three times
    toks = ensure_parallelism(docs).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
            )
        ).alias("toks"),
    ).localCheckpoint(eager=True)
    # global rarity order: doc-frequency ascending, token ascending —
    # two-phase distributed rank, NOT a global Window.orderBy: at web
    # scale the vocabulary is 10^7 tokens and a single-partition window
    # would serialize it through one task
    from ..operators.partitioning import distributed_row_number

    tok_rank = distributed_row_number(
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df")),
        [F.asc("df"), F.asc("tok")],
        out="rank",
    )
    ranked = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .join(F.broadcast(tok_rank.select("tok", "rank")), "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("rank")).alias("ranks"))
    )
    n = F.size("ranks")
    plen = n - F.ceil(F.lit(PP_T) * n).cast("int") + 1
    # both sides of the candidate self-join read this frame: checkpoint
    # so the rank-join + prefix-slice chain runs once, not twice
    prefix = ranked.select(
        "doc_id", n.alias("n"), F.explode(F.slice("ranks", 1, plen)).alias("r")
    ).localCheckpoint(eager=True)
    a, b = prefix.alias("a"), prefix.alias("b")
    # length filter (also lossless): J(a,b) >= t forces t*|b| <= |a|,
    # pruning cross-size candidates before the distinct/verify
    lenok = (F.col("a.n") >= F.ceil(F.lit(PP_T) * F.col("b.n"))) & (
        F.col("b.n") >= F.ceil(F.lit(PP_T) * F.col("a.n"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & lenok,
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    jac = F.size(F.array_intersect("toks_a", "toks_b")) / F.size(
        F.array_union("toks_a", "toks_b")
    )
    # filter on the UNROUNDED value, round only for output — same order
    # of operations as the oracle (a 0.5999997 must be dropped by both,
    # not kept because it rounds to 0.600000)
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", jac.alias("__jac"))
        .filter(F.col("__jac") >= PP_T)
        .select("id_a", "id_b", F.round("__jac", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# simhash_near_dup_pairs — banded SimHash candidates + Hamming verify
# --------------------------------------------------------------------------

SIMHASH_HAMMING_MAX = 3
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15


@register(
    "simhash_near_dup_pairs",
    oracle=f"""
WITH {_simhash_sql(as_cte=True).strip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
""",
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection, the Manku et al. 2007 shape: 60-bit
    fingerprints split into {SIMHASH_BANDS} bands of {SIMHASH_BAND_BITS}
    bits; candidates share at least one whole band (equi-join on
    (band_id, bucket) — never all-pairs), then exact Hamming verify with
    bit_count(xor). Pigeonhole makes banding LOSSLESS at Hamming <=
    {SIMHASH_HAMMING_MAX}: <= 3 differing bits cannot touch all 4
    bands, so the brute-force oracle's pair set must be IDENTICAL —
    proving zero false negatives, same discipline as `ppjoin_pairs`.

    Scale: the band-bucket join shuffles (bucket, simhash) pairs only;
    bucket skew caps at band-collision cardinality, and the verify is a
    codegen'd bit op on the joined row — no second lookup join."""
    docs = t(spark, sf_dir, "documents")
    sh = simhash64(docs).localCheckpoint(eager=True)  # both join sides
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                        .alias("bucket"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )
    return pairs

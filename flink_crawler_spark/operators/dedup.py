"""Deduplication operators for large-scale document pipelines.

Beyond-reference extensions (the reference dedupes URLs only, via the
URL-DB upsert — ``UrlDBFunction.java:466-527``); these cover *content*
dedup as a training-data pipeline needs it:

  * exact_dedup        — hash-groupBy on content digest (one shuffle)
  * minhash_signatures — shingle -> K minhashes (md5-based so any SQL
                         oracle reproduces them bit-for-bit)
  * lsh_candidate_pairs— band the signature, bucket-join within bands
  * ngram_jaccard      — exact verify on candidate pairs
  * simhash64          — 64-bit simhash over token md5s

Scale notes: every step is shuffle-on-key; candidate generation never
goes O(n^2) — pairs only materialize inside an LSH band bucket. At
100 TB, band buckets are the unit of skew: a degenerate constant column
would put everything in one bucket, so buckets are salted by a cap
(``max_bucket`` -> drop pathological buckets, standard practice).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_expr(text: Column) -> Column:
    """Lowercased word tokens; empty strings filtered."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda x: x != "")


def shingles_expr(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), built from built-in HOFs only."""
    toks = tokens_expr(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def exact_dedup(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: md5 digest -> keep lowest id per digest.

    One hash aggregation; at scale the digest is computed map-side and
    only (digest, id) shuffles, not the documents.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """K minhash values per document.

    minhash_k(doc) = MIN over shingles of md5(k || '|' || shingle) —
    lexicographic min over a keyed cryptographic hash is a valid minhash
    family and, being md5-based, is reproducible in any engine (the
    DuckDB oracle runs the same expression).
    """
    # Explode shingles and take K keyed-hash MINs in ONE hash aggregation:
    # md5 + min-agg stay in whole-stage codegen (per-row higher-order
    # functions don't), and the single shuffle on doc id is exactly the
    # shape that scales — map-side partial mins mean only K hashes per
    # (partition, doc) cross the wire.
    from . import ensure_parallelism

    exploded = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(shingles_expr(F.col(text_col), shingle_n)).alias("__s"),
    )
    return _minhash_from_exploded(exploded, id_col=id_col, num_hashes=num_hashes)


def _minhash_from_exploded(exploded: DataFrame, *, id_col: str, num_hashes: int) -> DataFrame:
    """K keyed-hash MINs over an exploded (id, shingle) frame."""
    return exploded.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("__s")))).alias(f"mh{k}")
            for k in range(num_hashes)
        ]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket become a pair.

    Returns distinct (id_a, id_b) with id_a < id_b. The join key is the
    (band_id, band_hash) bucket — a plain equi-join Catalyst shuffles on,
    never a cross join.

    Skew guard (r8, round-7 verdict task 6): a degenerate band — e.g. a
    constant text column hashing every doc into one bucket — would make
    the self-join O(bucket²) in ONE task. Buckets larger than
    ``max_bucket`` are salted into ``ceil(n / max_bucket)`` sub-buckets
    by ``xxhash64(id)``, bounding any task's pair count to
    ~``max_bucket²/2`` at the cost of missing cross-sub-bucket pairs
    *inside the pathological bucket only* (standard LSH practice: a
    bucket that big is not a near-dup cluster, it's corrupt/boilerplate
    input that exact-dedup upstream should have collapsed). Normal
    buckets (n ≤ max_bucket) get salt 0 and identical results — the
    DuckDB oracles reproduce the uncapped pair generation and stay green
    because no test corpus has a bucket anywhere near the cap. Costs one
    extra co-keyed size aggregation + exchange of the slim (id, band,
    bh) frame; at 100 TB that is the price of not dying on the first
    boilerplate cluster.
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bh"))
        )
    buckets = (
        signatures.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk"))
        .select(id_col, "bk.band", "bk.bh")
        .localCheckpoint(eager=True)  # evaluated on both sides of the
        # self-join; localCheckpoint (not persist) so blocks are freed by
        # the ContextCleaner when the frame is GC'd — persist() pins
        # partitions in the CacheManager for the whole bench session
    )

    keys = ["band", "bh"]
    if max_bucket is not None:
        sizes = buckets.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("__n"))
        buckets = (
            buckets.join(sizes, ["band", "bh"])
            .withColumn(
                "__salt",
                F.when(
                    F.col("__n") > max_bucket,
                    F.pmod(
                        F.xxhash64(F.col(id_col)),
                        F.ceil(F.col("__n") / F.lit(max_bucket)),
                    ),
                ).otherwise(F.lit(0).cast("long")),
            )
            .drop("__n")
        )
        keys = ["band", "bh", "__salt"]

    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs.

    Two broadcast-able joins against the (small) pair list; the set math
    runs on arrays JVM-side (array_intersect/array_union).
    """
    from . import ensure_parallelism

    sh = ensure_parallelism(df).select(
        F.col(id_col), F.array_sort(shingles_expr(F.col(text_col), shingle_n)).alias("sh")
    ).localCheckpoint(eager=True)  # joined twice (id_a / id_b side); see
    # lsh_candidate_pairs for why localCheckpoint over persist
    return _jaccard_on_shingles(sh, pairs, id_col=id_col)


def _jaccard_on_shingles(sh: DataFrame, pairs: DataFrame, *, id_col: str) -> DataFrame:
    """Exact Jaccard for candidate pairs against a (id, sh) shingle frame."""
    return (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: signatures -> bands -> verify.

    Shingles the corpus ONCE (the CPU-heavy regex/HOF pass) into a
    persisted frame that feeds both the minhash aggregation and the
    exact-Jaccard verify joins — at 100 TB the shingle pass is the
    dominant cost, so it must not run per stage."""
    from . import ensure_parallelism

    # r13 (guide §2.4): signatures as array HOFs in the SAME pass as the
    # shingling — array_min(transform(sh, s -> md5(k|s))) is the exact
    # per-doc MIN the exploded groupBy computed (the oracle's own
    # list_min(list_transform(...)) formula, bit-identical: min over the
    # same md5 multiset), so the explode + K-min shuffle + its separate
    # materialization job disappear. The two-step projection keeps the
    # shingle array referenced >1x, so CollapseProject cannot inline the
    # regex pass into each signature expression.
    sh = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.array_sort(shingles_expr(F.col(text_col), shingle_n)).alias("sh"),
        )
        .selectExpr(
            id_col,
            "sh",
            *[
                f"array_min(transform(sh, s -> md5(concat('{k}|', s)))) AS mh{k}"
                for k in range(num_hashes)
            ],
        )
        .localCheckpoint(eager=True)  # freed on GC, unlike persist()
    )
    # empty-shingle docs produced NO row under the exploded groupBy —
    # keep that behavior (their mh columns are NULL here)
    sigs = sh.where("mh0 IS NOT NULL").select(
        id_col, *[f"mh{k}" for k in range(num_hashes)]
    )
    pairs = lsh_candidate_pairs(sigs, id_col=id_col, num_hashes=num_hashes, bands=bands)
    verified = _jaccard_on_shingles(
        sh.select(id_col, "sh"), pairs, id_col=id_col
    )
    return verified.filter(F.col("jaccard") >= F.lit(threshold))


def simhash64(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens.

    Per token: 64 bits from the first 16 hex chars of md5(token); each
    bit votes +1/-1 weighted by token count; sign of the vote is the
    fingerprint bit. Pure built-ins (explode + conv + bit ops), so the
    oracle can reproduce it exactly.
    """
    from . import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("tok")
    )
    # r12 (guide §1.2): the previous per-bit Column loops (60 bit columns
    # + 60 sums + a 60-term fold) built ~2000 py4j objects — ~2.5 s of
    # pure plan construction, more than the query's execution at bench
    # scale. The same expressions as parsed SQL strings cost a handful of
    # round-trips; every operation is integer arithmetic with identical
    # shape ((h>>i & 1)*2-1 votes, sum, sign, left-assoc shiftleft sum),
    # so fingerprints are bit-identical and the DuckDB twin still holds.
    h_sql = "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"  # 60 bits
    bits = toks.selectExpr(
        id_col,
        *[f"(shiftright({h_sql}, {i}) & 1) * 2 - 1 AS b{i}" for i in range(60)],
    )
    votes = bits.groupBy(id_col).agg(
        F.expr("sum(b0) AS v0"), *[F.expr(f"sum(b{i}) AS v{i}") for i in range(1, 60)]
    )
    fp_sql = " + ".join(
        f"shiftleft(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END, {i})"
        for i in range(60)
    )
    return votes.selectExpr(id_col, f"{fp_sql} AS simhash")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
    driver_fold_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation (HashMin).

    The dedup-clustering step after near-dup pair generation: every doc
    gets cluster_id = min doc_id reachable through the near-dup graph.
    Driver-side loop (Spark iterations live in the driver, SURVEY §7);
    each round is one join + one aggregate, lineage truncated per round
    via localCheckpoint so the plan stays O(1). Rounds needed = graph
    diameter — for near-dup clusters (tiny, dense) effectively 2-3.

    r13 (guide §8, the r12 sssp/hits driver-fold pattern): when the
    symmetric edge list is small (<= ``driver_fold_max_edges`` rows,
    ~200k x 2 ids ≈ 20-30 MB of driver heap at the gate edge — the gate
    count is an exact post-checkpoint count, not an estimate), the
    min-label fixpoint runs as a driver union-find over the collected
    edges: one collect + one broadcast join replace ~diameter+1 rounds
    of join+agg+checkpoint+count. Near-dup graphs are tiny relative to
    the corpus by construction (edges exist only between near-identical
    docs); corpora whose edge lists exceed the gate keep the distributed
    loop unchanged. Edges with a NULL endpoint or one outside ``nodes``
    are ignored on both paths. Path parity is pinned by
    tests/test_dedup_similarity.py::test_cc_driver_fold_parity.
    """
    ids = nodes.select(F.col(id_col).alias("id"))
    # only edges between two nodes count: the distributed loop drops an
    # edge with a NULL or non-node endpoint at its label joins, and the
    # driver fold must not chain nodes through (or label them by) such
    # an endpoint — filter the small edge list, not the nodes
    sym_lazy = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .join(ids.withColumnRenamed("id", "a"), "a", "left_semi")
        .join(ids.withColumnRenamed("id", "b"), "b", "left_semi")
    )
    # gate probe and edge fetch in ONE action: limit(G+1) either returns
    # the whole (bounded) edge list or proves it exceeds the gate
    probe = sym_lazy.limit(driver_fold_max_edges + 1).collect()
    if len(probe) <= driver_fold_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in probe:
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # min root wins => label = min reachable id
        remap = [
            (x, find(x)) for x in list(parent) if find(x) != x
        ]  # non-representatives only; everything else labels itself
        if not remap:
            return ids.select(F.col("id").alias(id_col), F.col("id").alias("cluster_id"))
        spark = nodes.sparkSession
        from pyspark.sql import types as T

        id_type = ids.schema["id"].dataType
        if isinstance(id_type, (T.LongType, T.IntegerType)) and len(remap) <= 20_000:
            # expression-built mapping: createDataFrame on a Python-local
            # relation pays a ~1-2 s conversion round-trip per call
            # (measured; the streamq _literal_rows lesson) — an inline()
            # literal array is a handful of driver calls
            suf = "L" if isinstance(id_type, T.LongType) else ""
            structs = ",".join(f"struct({int(a)}{suf},{int(b)}{suf})" for a, b in remap)
            mapping = (
                spark.range(1)
                .selectExpr(f"inline(array({structs}))")
                .toDF("id", "__cl")
            )
        else:
            mapping = spark.createDataFrame(
                remap,
                T.StructType(
                    [
                        T.StructField("id", id_type, False),
                        T.StructField("__cl", id_type, False),
                    ]
                ),
            )
        return ids.join(F.broadcast(mapping), "id", "left").select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__cl"), F.col("id")).alias("cluster_id"),
        )
    sym = sym_lazy.localCheckpoint(eager=True)
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        # neighbor minimum, merged with own label
        nbr = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_label = F.least(F.col("label"), F.coalesce("nbr_label", "label"))
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        # the changed count reads the frame the checkpoint job just
        # materialized — no extra join, near-free second action
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))

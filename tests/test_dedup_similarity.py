"""Dedup + similarity operator semantics on tiny controlled corpora."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_crawler_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_pairs,
    ngram_jaccard,
    simhash64,
)
from flink_crawler_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk,
    embedding_near_dup_pairs,
)

DOC = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest while the dog sleeps"
)


def docs_df(spark):
    rows = [
        (1, DOC),
        (2, DOC),  # exact dup of 1
        (3, DOC.replace("lazy", "sleepy")),  # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    got = {r["digest"]: r for r in exact_dedup(docs_df(spark)).collect()}
    assert len(got) == 3  # 1&2 collapse
    dupes = [r for r in got.values() if r["n_dupes"] == 2]
    assert len(dupes) == 1 and dupes[0]["keep_id"] == 1


def test_minhash_identical_docs_equal_signatures(spark):
    sigs = {r["doc_id"]: r for r in minhash_signatures(docs_df(spark)).collect()}
    for k in range(8):
        assert sigs[1][f"mh{k}"] == sigs[2][f"mh{k}"]
    # different doc -> different signature on at least one hash
    assert any(sigs[1][f"mh{k}"] != sigs[4][f"mh{k}"] for k in range(8))


def test_lsh_finds_near_dups_not_distinct_docs(spark):
    df = docs_df(spark)
    sigs = minhash_signatures(df)
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard_exact_values(spark):
    df = docs_df(spark)
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["id_a", "id_b"])
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(df, pairs).collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 4)] == 0.0


def test_near_dup_pipeline_end_to_end(spark):
    got = {(r["id_a"], r["id_b"]) for r in near_dup_pairs(docs_df(spark), threshold=0.5).collect()}
    assert (1, 2) in got
    assert all(4 not in p for p in got)


def test_simhash_hamming_close_for_near_dups(spark):
    fps = {r["doc_id"]: r["simhash"] for r in simhash64(docs_df(spark)).collect()}
    assert fps[1] == fps[2]

    def hamming(a, b):
        return bin((a ^ b) & (2**63 - 1)).count("1")

    assert hamming(fps[1], fps[3]) < hamming(fps[1], fps[4])


def vectors_df(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),  # close to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [-1.0, 0.0, 0.0]),  # opposite of 1
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark):
    got = cosine_topk(vectors_df(spark), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in got] == [1, 2]
    assert abs(got[0]["cosine"] - 1.0) < 1e-9


def test_ann_lsh_recovers_exact_top1(spark):
    got = ann_topk_lsh(vectors_df(spark), [1.0, 0.0, 0.0], k=2, n_planes=4).collect()
    assert got and got[0]["vec_id"] == 1


def test_ivf_topk_recovers_exact_neighbors(spark):
    from flink_crawler_spark.operators.similarity import ivf_topk

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(1, 60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {r["vec_id"] for r in cosine_topk(df, [6.0, 2.0, 1.0], k=5).collect()}
    approx = ivf_topk(df, [6.0, 2.0, 1.0], k=5, n_lists=4, n_probe=4).collect()
    # with n_probe == n_lists IVF degenerates to exact search
    assert {r["vec_id"] for r in approx} == exact


def test_embedding_near_dup_pairs(spark):
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(vectors_df(spark), threshold=0.95, n_planes=4).collect()
    }
    assert (1, 2) in got
    assert all({a, b} != {1, 5} for a, b in got)


def test_connected_components_known_graph(spark):
    from flink_crawler_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    # components: {0,1,2,3} (chain), {4,5} and {6} {7} singletons
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 0), (4, 5)], ["src", "dst"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 7}


def test_cc_driver_fold_parity(spark):
    """r13 driver-fold gate: the union-find fast path and the distributed
    min-label loop must agree label-for-label on irregular graphs
    (chains, stars, merging components, self-loops, singletons, and
    edges with a NULL endpoint or one outside the node set)."""
    import random

    from flink_crawler_spark.operators.dedup import connected_components

    rng = random.Random(13)
    for trial in range(3):
        n = 40
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        e = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(5, 45))
        ]
        edges = spark.createDataFrame(e, ["src", "dst"])
        fold = {
            r["id"]: r["cluster_id"]
            for r in connected_components(nodes, edges).collect()
        }
        loop = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                nodes, edges, driver_fold_max_edges=0
            ).collect()
        }
        assert fold == loop, f"trial {trial}: {fold} != {loop}"

    # edges through endpoints outside `nodes`, and NULL endpoints: the
    # distributed loop drops them at its joins, so the fold must too —
    # 1-x-2 does not merge 1 and 2, and no node is labelled by an id
    # that is not a node
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    foreign = [
        ([(1, 100), (100, 2), (0, 3), (3, 4), (5, 6)], {1: 1, 2: 2, 3: 3, 4: 3, 5: 5, 6: 5, 7: 7}),
        ([(1, None), (None, 2), (2, 3), (None, None), (6, 7)], {1: 1, 2: 2, 3: 2, 4: 4, 5: 5, 6: 6, 7: 6}),
    ]
    for e, want in foreign:
        edges = spark.createDataFrame(e, "src long, dst long")
        fold = {r["id"]: r["cluster_id"] for r in connected_components(nodes, edges).collect()}
        loop = {
            r["id"]: r["cluster_id"]
            for r in connected_components(nodes, edges, driver_fold_max_edges=0).collect()
        }
        assert fold == loop == want, (e, fold, loop)


def test_exact_cosine_pairs_blocked_matches_ground_truth(spark, sf_dir):
    """The default (distributed, block-pair) exact path and the
    collect+broadcast ground-truth path must produce identical pairs."""
    import os

    from flink_crawler_spark.operators.similarity import exact_cosine_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    blocked = exact_cosine_pairs(emb, threshold=0.35, num_blocks=5)
    gt = exact_cosine_pairs(emb, threshold=0.35, ground_truth=True)
    rows_b = {(r["id_a"], r["id_b"], r["cosine"]) for r in blocked.collect()}
    rows_g = {(r["id_a"], r["id_b"], r["cosine"]) for r in gt.collect()}
    assert rows_b == rows_g
    assert len(rows_b) > 0


def test_exact_cosine_ground_truth_guard(spark, sf_dir):
    import os

    import pytest

    from flink_crawler_spark.operators.similarity import exact_cosine_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    with pytest.raises(ValueError, match="ground_truth collect path refused"):
        exact_cosine_pairs(
            emb, threshold=0.8, ground_truth=True, max_ground_truth_rows=10
        ).collect()


# ---------------------------------------------------------------------------
# r8 (round-7 verdict task 6): LSH bucket-size skew guard
# ---------------------------------------------------------------------------


def test_lsh_bucket_cap_bounds_degenerate_bucket(spark):
    """A constant text column hashes EVERY doc into one bucket per band;
    without the cap the self-join materializes O(n²) pairs in one task.
    With max_bucket=m the salted re-band bounds candidates to the
    sub-bucket pairs: bands * n_subbuckets * C(subbucket, 2) at most."""
    n, cap = 300, 16
    rows = [(i, "constant boilerplate text repeated everywhere") for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df)

    capped = lsh_candidate_pairs(sigs, max_bucket=cap).count()
    # worst case per band: ceil(300/16)=19 sub-buckets, each ≤ ceil(300/19)+slack
    # members; the hard bound we assert is the exact salted-group pair sum
    # computed independently below, and a loose global one for readability.
    assert capped < n * (n - 1) // 2  # far below the 44 850 uncapped pairs
    # per-(band, salt) group bound: no group may exceed C(cap_groups_max, 2)
    # where cap_groups_max is the largest salted group. Verify directly from
    # the salted bucket assignment the operator would use.
    import math

    n_sub = math.ceil(n / cap)
    # xxhash64 salting is not perfectly uniform on 300 ids; allow 3x the
    # mean group size as the per-group ceiling — the point is O(n²/k)
    # behavior, not perfect balance
    max_group = 3 * math.ceil(n / n_sub)
    assert capped <= 4 * n_sub * (max_group * (max_group - 1) // 2)


def test_lsh_bucket_cap_noop_on_normal_corpus(spark):
    """Below the cap the salt is constant 0 — results identical to the
    uncapped join (the oracle-equivalence argument for the green near-dup
    family)."""
    sigs = minhash_signatures(docs_df(spark))
    capped = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, max_bucket=1024).collect()}
    uncapped = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, max_bucket=None).collect()}
    assert capped == uncapped


def test_reproducible_lsh_paths_match_fast_paths(spark, sf_dir):
    """r10: the oracle-grade reproducible=True mode (signature_expr +
    left-assoc query signature + rounded cosine) must select the same
    candidates and the same top-k ids as the Arrow-matmul fast path on
    the real corpus — sign flips between the two arithmetics would need
    a plane dot within ~1e-13 of zero, which the test data never is."""
    import os

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in emb.filter("vec_id = 0").select("embedding").head()[0]]

    fast = ann_topk_lsh(emb, qvec, k=20, n_planes=8, seed=42).collect()
    repro = ann_topk_lsh(
        emb, qvec, k=20, n_planes=8, seed=42, reproducible=True
    ).collect()
    assert [r["vec_id"] for r in fast] == [r["vec_id"] for r in repro]
    for rf, rr in zip(fast, repro):
        assert abs(rf["cosine"] - rr["cosine"]) < 1e-6  # repro side is rounded

    fast_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.35, n_planes=8).collect()
    }
    repro_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.35, n_planes=8, reproducible=True
        ).collect()
    }
    assert fast_pairs == repro_pairs

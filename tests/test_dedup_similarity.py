"""Dedup family + similarity search (driver-mandated LLM-data operators)."""

import hashlib
import random
import struct

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import dedup, similarity


@pytest.fixture
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    far = "completely different words about spark engines and parquet files here"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string"
    )


def test_exact_dedup(spark, docs):
    assert dedup.exact_dedup(docs, ["text"]).count() == 3


def test_release_unpersists_pair_intermediates(spark, docs):
    out = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    out.collect()
    (dep,) = out._sg_persisted
    assert dep.storageLevel.useMemory  # persisted while result is live
    dedup.release(out)
    assert not dep.storageLevel.useMemory


def test_jaccard_pairs_exact(spark, docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert pairs[(1, 4)] == 1.0  # identical docs
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc in no pair


def test_jaccard_indexed_equals_brute(spark, docs):
    """The inverted-index variant must be result-identical to the brute
    block self-join — pairs, values, rounding — for threshold > 0, with
    and without blocking."""
    extra = spark.createDataFrame(
        [(5, ""), (6, "the quick brown fox jumps over the lazy dog again and again today")],
        "doc_id long, text string",
    )
    both = docs.unionByName(extra)
    for blk in (None, "lang"):
        d = both.withColumn("lang", (F.col("doc_id") % 2).cast("string")) \
            if blk else both
        brute = dedup.ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.4, block_col=blk
        )
        indexed = dedup.ngram_jaccard_pairs_indexed(
            d, "doc_id", "text", n=3, threshold=0.4, block_col=blk,
            unblocked=True,
        )
        bx = {(r["id_a"], r["id_b"]): r["jaccard"] for r in brute.collect()}
        ix = {(r["id_a"], r["id_b"]): r["jaccard"] for r in indexed.collect()}
        assert bx == ix and bx, f"mismatch with block_col={blk}"


def test_jaccard_indexed_rejects_nonpositive_threshold(spark, docs):
    with pytest.raises(ValueError, match="threshold > 0"):
        dedup.ngram_jaccard_pairs_indexed(docs, "doc_id", "text", threshold=0.0)


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment = 1.0 while
    Jaccard is far below any useful threshold — the asymmetric measure's
    whole point."""
    rows = [
        (1, "the quick brown fox jumps over"),
        (2, "prefix words here " + "the quick brown fox jumps over"
            + " and then a very long suffix that keeps going with many more"
            + " unrelated tokens stretching the shingle set far beyond"),
        (3, "completely different content entirely unrelated words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8, unblocked=True
        ).collect()
    }
    assert cont == {(1, 2): 1.0}
    jac = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    assert jac.count() == 0  # symmetric measure misses the embedding


def test_containment_at_least_jaccard(spark, docs):
    """For every pair, containment ≥ jaccard (min-denominator vs
    union-denominator), and identical docs score 1.0 on both."""
    c = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.01, unblocked=True
        ).collect()
    }
    j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.01
        ).collect()
    }
    assert c[(1, 4)] == 1.0 and j[(1, 4)] == 1.0
    for pair, jv in j.items():
        assert c[pair] >= jv


def test_containment_block_col_bounds_pairs(spark):
    """With block_col, identical docs in DIFFERENT blocks never pair —
    the hot-shingle fan-out bound that keeps the posting join alive at
    the 10× tier (where the unblocked variant OOMed)."""
    rows = [
        (1, "the quick brown fox jumps over", "en"),
        (2, "the quick brown fox jumps over", "en"),
        (3, "the quick brown fox jumps over", "de"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    blocked = dedup.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, block_col="lang"
    ).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in blocked] == [(1, 2, 1.0)]
    unblocked = dedup.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, unblocked=True
    )
    assert unblocked.count() == 3  # all three pair without the block


def test_unblocked_posting_join_warns(spark, docs):
    """VERDICT r07 item 3: block_col=None without the explicit
    unblocked=True opt-in must emit a RuntimeWarning — the contract that
    saved the 10x tier is enforced, not advisory. Blocked and opted-in
    calls stay silent."""
    import warnings

    for fn in (dedup.ngram_containment_pairs, dedup.ngram_jaccard_pairs_indexed):
        with pytest.warns(RuntimeWarning, match="UNBLOCKED corpus-wide"):
            fn(docs, "doc_id", "text", n=3, threshold=0.5)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            fn(docs, "doc_id", "text", n=3, threshold=0.5, unblocked=True)
            fn(docs, "doc_id", "text", n=3, threshold=0.5, block_col="doc_id")


def test_containment_rejects_nonpositive_threshold(spark, docs):
    with pytest.raises(ValueError, match="threshold > 0"):
        dedup.ngram_containment_pairs(docs, "doc_id", "text", threshold=0.0)


def test_minhash_lsh_finds_planted_dups(spark, docs):
    out = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=8, threshold=0.5
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 4) in pairs  # identical docs always collide in every band
    # LSH output is a subset of brute force at the same threshold
    brute = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    assert pairs <= brute


def test_minhash_signature_stability(spark, docs):
    a = dedup.with_minhash(docs, "text").select("doc_id", "sig").collect()
    b = dedup.with_minhash(docs, "text").select("doc_id", "sig").collect()
    assert {r["doc_id"]: r["sig"] for r in a} == {r["doc_id"]: r["sig"] for r in b}


def test_simhash_properties(spark, docs):
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", dedup.simhash("text").alias("fp")).collect()
    }
    assert fps[1] == fps[4]  # identical text → identical fingerprint
    assert 0 <= fps[1] < 2 ** 32
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])  # near-dup closer than unrelated


def test_simhash_pairs_block_trick(spark, docs):
    out = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 4)] == 0


@pytest.fixture
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [1.0, 0.0, 0.0, 0.0]),   # identical to 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    out = similarity.brute_force_topk(vectors, vectors.where(F.col("vec_id") == 1), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.collect()]
    assert got == [(4, 1), (2, 2)]  # identical first, near second


def test_embedding_neardup(spark, vectors):
    out = dedup.embedding_neardup_pairs(vectors, "vec_id", "embedding", threshold=0.999)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(1, 4)}


def _f32(x):
    return struct.unpack("f", struct.pack("f", x))[0]


def _srp_reference(vec, planes):
    """SRP bucket in pure Python: hashlib md5 coefficients, a sequential
    double sum, bit p set iff the projection is >= 0 (a NULL projection
    sets no bit)."""
    if vec is None or not vec:
        # sequence(1, 0) is [1, 0]: an empty vector zips to two NULL products
        return 0
    bucket = 0
    for p in range(planes):
        acc = 0.0
        for i, v in enumerate(vec, 1):
            if v is None:
                acc = None
                break
            h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16)
            acc += v * (h / float(0xFFFFFFFF) * 2.0 - 1.0)
        if acc is not None and acc >= 0:
            bucket |= 1 << p
    return bucket


def _seeded_vectors(n, dim, seed):
    rng = random.Random(seed)
    return [[_f32(rng.uniform(-1, 1)) for _ in range(dim)] for _ in range(n)]


def test_hyperplane_bucket_matches_python_reference(spark):
    # common length 6, one shorter vector, one empty, one with a NULL
    # element, one NULL vector
    vecs = _seeded_vectors(16, 6, seed=11)
    vecs += [vecs[0][:3], [], [vecs[1][0], None, *vecs[1][2:]], None]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<float>")
    planes = 5
    want = {i: _srp_reference(v, planes) for i, v in enumerate(vecs)}
    assert len(set(want.values())) > 4  # the planes do split the vectors
    # dim 6: driver-side coefficients for the common length; 3: for the
    # short row only; 0: per-element md5 coefficients for every row
    for dim in (6, 3, 0):
        got = {r["vec_id"]: r["b"] for r in df.select(
            "vec_id", similarity.hyperplane_bucket(F.col("embedding"), planes, dim).alias("b")
        ).collect()}
        assert got == want, dim


def test_vector_dim_reads_first_row(spark, vectors):
    assert similarity.vector_dim(vectors, "embedding") == 4
    assert similarity.vector_dim(vectors.where(F.col("vec_id") < 0), "embedding") == 0


@pytest.mark.parametrize("planes", [0, 3])
def test_embedding_neardup_matches_three_fold_cosine(spark, planes):
    base = _seeded_vectors(30, 8, seed=5)
    rng = random.Random(6)
    vecs = base + [[_f32(x + rng.uniform(-0.05, 0.05)) for x in v] for v in base[:10]]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<float>")
    got = {tuple(r) for r in dedup.embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.3, bucket_planes=planes).collect()}
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    scored = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b",
        F.round(similarity.cosine_similarity(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
    )
    want = {
        tuple(r) for r in scored.where(F.col("cosine") >= 0.3).collect()
        if not planes
        or _srp_reference(vecs[r["id_a"]], planes) == _srp_reference(vecs[r["id_b"]], planes)
    }
    assert len(want) > 10
    assert got == want


def test_lsh_topk_identical_vector_recalled(spark, vectors):
    out = similarity.lsh_topk(vectors, vectors.where(F.col("vec_id") == 1), k=2, planes=3)
    got = {r["neighbor_id"] for r in out.collect()}
    assert 4 in got  # identical vector is always in the same bucket


def test_semantic_dedup_drops_within_cluster_twin(spark, vectors):
    # centroids = vectors 1 and 3 (orthogonal); 4 is identical to 1, so it
    # lands in 1's cluster and loses to the lower id
    cents = vectors.where(F.col("vec_id").isin(1, 3)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    pairs = dedup.semantic_dedup_pairs(
        vectors, "vec_id", "embedding", centroids=cents, threshold=0.999
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 4)}
    kept = dedup.semantic_dedup_keep(
        vectors, "vec_id", "embedding", centroids=cents, threshold=0.999
    )
    assert {r["vec_id"] for r in kept.collect()} == {1, 2, 3}

    # an impossible threshold keeps the whole corpus
    all_kept = dedup.semantic_dedup_keep(
        vectors, "vec_id", "embedding", centroids=cents, threshold=1.01
    )
    assert all_kept.count() == vectors.count()


def test_semantic_dedup_never_pairs_across_clusters(spark, vectors):
    # every vector is its own centroid -> singleton clusters -> no pairs,
    # even for the identical twins 1 and 4
    cents = vectors.select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    # identical vectors tie on cosine to their two identical centroids; the
    # lower cent_id wins for BOTH, so 1 and 4 still share a cell — use the
    # orthogonal trio instead for the cross-cluster assertion
    trio = vectors.where(F.col("vec_id").isin(1, 2, 3))
    pairs = dedup.semantic_dedup_pairs(
        trio, "vec_id", "embedding",
        centroids=cents.where(F.col("cent_id").isin(1, 2, 3)),
        threshold=0.0,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert all(a != b for a, b in got)
    # 1 and 3 are orthogonal and sit in different cells: never a pair
    assert (1, 3) not in got


def test_pq_topk_approximates_brute_force(spark):
    import random

    from datapipelines_essentials_python_spark.operators.similarity import (
        brute_force_topk,
        pq_codebook,
        pq_topk,
    )

    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(64)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") < 3)

    cb = pq_codebook(df).collect()[0]["cb"]
    assert len(cb) == 4 and len(cb[0]) == 16 and len(cb[0][0]) == 16

    pq = pq_topk(df, queries, k=10)
    got = {r["query_id"]: set() for r in pq.collect()}
    for r in pq.collect():
        got[r["query_id"]].add(r["neighbor_id"])
    assert all(len(v) == 10 for v in got.values())
    # ranks are 1..10 per query, distances non-negative and non-decreasing
    per_q = {}
    for r in pq.collect():
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["dist_est"]))
    for q, rs in per_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, 11))
        assert all(rs[i][1] <= rs[i + 1][1] for i in range(9))
        assert rs[0][1] >= 0.0

    # sanity recall: quantized top-10 overlaps exact cosine top-10
    # (random uniform vectors — PQ with seeded codebooks is coarse, so
    # just require non-trivial overlap)
    bf = brute_force_topk(df, queries, k=10)
    exact = {}
    for r in bf.collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    overlap = sum(len(got[q] & exact[q]) for q in got) / (10 * len(got))
    assert overlap > 0.0


def test_labeled_topk_hard_negatives(spark):
    from datapipelines_essentials_python_spark.operators.similarity import labeled_topk

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.1], 0),   # same label — must be excluded
        (3, [0.9, 0.2], 1),    # different label, closest
        (4, [0.0, 1.0], 1),    # different label, far
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.where("vec_id = 1")
    out = labeled_topk(df, q, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [3, 4]
    assert all(r["neighbor_label"] != r["query_label"] for r in out)
    # positive mode flips the predicate
    pos = labeled_topk(df, q, k=2, same_label=True).collect()
    assert [r["neighbor_id"] for r in pos] == [2]


def test_knn_label_agreement(spark):
    from datapipelines_essentials_python_spark.operators.similarity import (
        knn_label_agreement,
    )

    # two tight clusters with consistent labels → perfect agreement
    rows = [
        (i, [1.0 + 0.01 * i, 0.0], 0) for i in range(4)
    ] + [(10 + i, [0.0, 1.0 + 0.01 * i], 1) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in knn_label_agreement(df, df, k=3).collect()}
    assert out[0]["agreement"] == 1.0 and out[1]["agreement"] == 1.0
    assert out[0]["n_queries"] == 4 and out[0]["n_agree"] == 4


def test_keep_best_per_cluster(spark):
    from datapipelines_essentials_python_spark.operators.dedup import (
        keep_best_per_cluster,
    )

    rows = [
        (1, 100, 0.5),
        (2, 100, 0.9),   # highest score in cluster 100 → keeper
        (3, 100, 0.9),   # tie on score → smaller id 2 wins
        (7, 200, 0.1),   # singleton cluster keeps itself
    ]
    df = spark.createDataFrame(rows, "id long, component long, score double")
    out = {
        r["cluster"]: r
        for r in keep_best_per_cluster(df, "component", "id", "score").collect()
    }
    assert out[100]["keeper_id"] == 2 and out[100]["keeper_score"] == 0.9
    assert out[100]["n_members"] == 3
    assert out[200]["keeper_id"] == 7 and out[200]["n_members"] == 1


def test_pq_refined_codebook_reduces_distortion_and_recall(spark):
    """One Lloyd iteration must not worsen quantization: total squared
    distance of subvectors to their assigned centroid is non-increasing
    (Lloyd's monotonicity, up to the 6-dp centroid rounding), and top-k
    recall vs brute force on CLUSTERED data must not degrade. Empty codes
    keep their seed centroid (codebook shape is unchanged)."""
    import random

    from datapipelines_essentials_python_spark.operators.similarity import (
        brute_force_topk,
        pq_codebook,
        pq_topk,
        recall_at_k,
        _sqdist,
    )

    random.seed(11)
    # 16 well-separated cluster centers + small noise: refinement has
    # real structure to find, unlike uniform noise
    centers = [[random.uniform(-1, 1) for _ in range(64)] for _ in range(16)]
    rows = [
        (i, [c + random.uniform(-0.05, 0.05) for c in centers[i % 16]])
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") < 3)

    def distortion(cb_row):
        cb = F.col("cb")
        total = 0.0
        sub_dim = 16
        for s in range(4):
            sv = F.transform(
                F.slice(F.col("embedding"), s * sub_dim + 1, sub_dim),
                lambda x: x.cast("double"),
            )
            dists = F.transform(
                F.element_at(cb, s + 1), lambda c: _sqdist(sv, c)
            )
            total += (
                df.crossJoin(F.broadcast(cb_row))
                .agg(F.sum(F.array_min(dists)))
                .collect()[0][0]
            )
        return total

    seed_cb = pq_codebook(df)
    refined_cb = pq_codebook(df, refine_iters=1)
    r = refined_cb.collect()[0]["cb"]
    assert len(r) == 4 and len(r[0]) == 16 and len(r[0][0]) == 16
    assert distortion(refined_cb) <= distortion(seed_cb) + 1e-3

    bf = brute_force_topk(df, queries, k=5)

    def mean_recall(refine_iters):
        approx = pq_topk(df, queries, k=5, refine_iters=refine_iters)
        rec = recall_at_k(approx, bf).agg(F.avg("recall")).collect()[0][0]
        return rec

    assert mean_recall(1) >= mean_recall(0) - 1e-9


def test_brute_force_l2_topk(spark, vectors):
    out = similarity.brute_force_l2_topk(
        vectors, vectors.where(F.col("vec_id") == 1), k=3
    )
    got = [(r["neighbor_id"], r["rank"], r["dist"]) for r in out.collect()]
    got.sort(key=lambda t: t[1])
    assert [(n, r) for n, r, _ in got] == [(4, 1), (2, 2), (3, 3)]
    assert got[0][2] == 0.0              # identical vector at distance 0
    assert abs(got[1][2] - 0.02) < 1e-9  # (0.1^2 + 0.1^2)
    assert abs(got[2][2] - 2.0) < 1e-9   # orthogonal unit vectors


def test_ivf_recall_monotone_in_nprobe(spark):
    """Registry gauge invariant: nprobe=2 candidates are a superset of
    nprobe=1's (same cells plus one more per query), so per-query
    recall_p2 >= recall_p1 everywhere."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["ann_recall_ivf"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "gauge returned no queries"
    for r in rows:
        assert r["recall_p2"] >= r["recall_p1"], r
        assert 0.0 <= r["recall_p1"] <= 1.0 and 0.0 <= r["recall_p2"] <= 1.0
        assert r["n_exact"] == 5

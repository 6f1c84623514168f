"""Training-data-pipeline operators: dedup family, similarity search,
multimodal plumbing — planted-duplicate fixtures with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adsb_clickhouse_spark.operators import dedup as D
from adsb_clickhouse_spark.operators import multimodal as M
from adsb_clickhouse_spark.operators import similarity as S
from tools.scale import make_clustered_vectors, make_corpus, synth_corpus

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "completely different content about spark query engines and shuffles"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "tokenizer quality filters and language identification heuristics"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    out = D.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["canonical_id"] == 0 and out[0]["doc_ids"] == [0, 3]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and (0, 3) in pairs and (1, 3) in pairs
    assert all(2 not in p and 4 not in p for p in pairs)


def test_minhash_lsh_agrees_with_exact_jaccard(spark, docs):
    lsh = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # exact dup pairs always collide in every band
    assert (0, 3) in lsh
    # verified output is a subset of true-jaccard pairs
    true = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert lsh <= true


def test_jaccard_auto_selects_and_agrees(spark):
    """The auto-strategy Jaccard operator: the fan-out estimate lands
    on opposite sides of the cutoff for a rare-shingle corpus (naive)
    vs a boilerplate-heavy corpus (prefix), the sampled estimator stays
    on the right side, and all three operators (naive / prefix / auto)
    return identical pairs on the corpus where they disagree most."""
    plain = synth_corpus(spark, 300, 0)  # unique tails only
    # the fan-out statistic grows with corpus size in the boilerplate
    # regime (hot-shingle freq = n_docs): 300 docs sit below the
    # crossover (fan-out ~34), 1000 above (~112) — which is exactly the
    # behavior the auto-select wants (naive IS right for small corpora)
    boiler = synth_corpus(spark, 1000, 16)  # hot template + tails
    fo_plain = D.estimate_naive_fanout(plain)
    fo_boiler = D.estimate_naive_fanout(boiler)
    assert fo_plain < D.NAIVE_FANOUT_CUTOFF < fo_boiler
    # deterministic hash-sampling keeps the decision on the same side
    fo_sampled = D.estimate_naive_fanout(boiler, sample_mod=4)
    assert fo_sampled > D.NAIVE_FANOUT_CUTOFF
    # exactness: all three strategies agree pair-for-pair
    naive = sorted(map(tuple, D.ngram_jaccard_pairs(boiler, threshold=0.5).collect()))
    prefix = sorted(
        map(tuple, D.ngram_jaccard_pairs_prefix(boiler, threshold=0.5).collect())
    )
    auto = sorted(
        map(tuple, D.ngram_jaccard_pairs_auto(boiler, threshold=0.5).collect())
    )
    assert naive == prefix == auto


def test_decontamination_containment(spark, docs):
    # eval doc 0; train includes its exact dup (3), a near-dup (1), and
    # unrelated docs (2, 4) — containment is directional: |S_t∩S_e|/|S_e|
    evalset = docs.filter(F.col("doc_id") == 0)
    train = docs.filter(F.col("doc_id") != 0)
    hits = {
        (r["train_id"], r["eval_id"]): r["containment"]
        for r in D.decontamination_pairs(train, evalset, threshold=0.3).collect()
    }
    assert hits[(3, 0)] == 1.0  # exact copy fully contains the eval doc
    assert 0.3 <= hits[(1, 0)] < 1.0  # near-dup partially contains it
    assert all(t not in (2, 4) for (t, _e) in hits)


def test_decontamination_empty_when_clean(spark, docs):
    evalset = docs.filter(F.col("doc_id") == 4)
    train = docs.filter(F.col("doc_id").isin(0, 1, 2))
    assert D.decontamination_pairs(train, evalset, threshold=0.3).count() == 0


def test_simhash_near_dup_small_hamming(spark, docs):
    fp = {r["id"]: r["simhash"] for r in D.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert fp[0] == fp[3]                    # identical docs, identical fingerprint
    assert ham(fp[0], fp[1]) <= 6            # near-dup: small distance
    assert ham(fp[0], fp[2]) > ham(fp[0], fp[1])  # unrelated: farther


@pytest.fixture()
def vectors(spark):
    import random

    rng = random.Random(0)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(5)]
    rows = []
    for vid in range(40):
        c = base[vid % 5]
        rows.append((vid, [x + rng.uniform(-0.05, 0.05) for x in c]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_bruteforce_finds_cluster_mates(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = S.knn_bruteforce(vectors, q, k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    # nearest neighbors of vec 0 share its cluster (id % 5 == 0)
    assert all(r["neighbor_id"] % 5 == 0 for r in out)


def test_ivf_full_probe_matches_bruteforce(spark, vectors):
    """nprobe = n_lists degrades IVF to an exact scan — results must
    equal brute force (same scoring, same tie-break)."""
    assignments, cent = S.ivf_build(vectors, n_lists=4, iters=2)
    q = vectors.filter(F.col("vec_id") < 2)
    exact = S.knn_bruteforce(vectors, q, k=3).collect()
    ivf = S.ivf_search(vectors, assignments, cent, q, k=3, nprobe=4).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, exact))


def test_ivf_narrow_probe_finds_cluster_mates(spark, vectors):
    """The fixture has 5 planted clusters; with a narrow probe the
    k-means cells keep cluster mates together."""
    assignments, cent = S.ivf_build(vectors, n_lists=5, iters=3)
    q = vectors.filter(F.col("vec_id") == 0)
    out = S.ivf_search(vectors, assignments, cent, q, k=3, nprobe=1).collect()
    assert len(out) == 3
    assert all(r["neighbor_id"] % 5 == 0 for r in out)
    # deterministic: rebuild gives identical assignments
    a2, c2 = S.ivf_build(vectors, n_lists=5, iters=3)
    assert sorted(map(tuple, assignments.collect())) == sorted(map(tuple, a2.collect()))


def test_ann_lsh_recall_against_bruteforce(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in S.knn_bruteforce(vectors, q, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in S.ann_lsh(vectors, q, k=3, n_planes=4, dim=16).collect()}
    # tight clusters + few planes → candidates land in the query's bucket
    assert len(approx & exact) / len(exact) >= 0.6


def test_ann_lsh_multiprobe_recall_dominates_single(spark, vectors):
    """Probing the Hamming-1 neighbor buckets can only ADD candidates, so
    multi-probe recall vs brute force is >= single-probe recall."""
    q = vectors.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in S.knn_bruteforce(vectors, q, k=3).collect()}
    single = {(r["query_id"], r["neighbor_id"])
              for r in S.ann_lsh(vectors, q, k=3, n_planes=4, dim=16).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in S.ann_lsh(vectors, q, k=3, n_planes=4, n_probes=5, dim=16).collect()}
    assert len(multi & exact) >= len(single & exact)
    # every query answers k rows once all Hamming-1 buckets are probed
    assert len(multi) == len(exact)


def test_cosine_near_dup_pairs_threshold(spark, vectors):
    out = S.cosine_near_dup_pairs(vectors, threshold=0.95)
    rows = out.collect()
    assert all(r["cos_sim"] >= 0.95 for r in rows)
    assert all(r["id_a"] % 5 == r["id_b"] % 5 for r in rows)  # same cluster only


def test_cosine_near_dup_driver_collect_is_capped(spark, vectors):
    """The exact path broadcasts the corpus from the driver — past
    max_rows it must refuse (naming the LSH path), not OOM."""
    with pytest.raises(ValueError, match="cosine_near_dup_pairs_lsh"):
        S.cosine_near_dup_pairs(vectors, threshold=0.9, max_rows=10)


def test_cosine_near_dup_empty_corpus_returns_empty(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = S.cosine_near_dup_pairs(empty, threshold=0.5)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cos_sim"]


def test_ivf_build_clamps_n_lists_to_corpus_size(spark, vectors):
    """n_lists > corpus rows must clamp, not crash on shape mismatch."""
    small = vectors.filter(F.col("vec_id") < 3)
    assignments, cent = S.ivf_build(small, n_lists=16, iters=2)
    assert cent.shape[0] == 3
    assert assignments.count() == 3
    with pytest.raises(ValueError, match="empty corpus"):
        S.ivf_build(vectors.filter(F.lit(False)), n_lists=4)


def test_ann_id_contract(spark, vectors):
    """LSH/IVF ids are cast to long: digit strings pass through exactly;
    non-castable id TYPES fail at plan-build time (docstring contract)."""
    as_str = vectors.withColumn("vec_id", F.col("vec_id").cast("string"))
    q = as_str.filter(F.col("vec_id") == "0")
    out = S.ann_lsh(as_str, q, k=3, n_planes=4, dim=16).collect()
    assert len(out) == 3 and all(isinstance(r["neighbor_id"], int) for r in out)
    bad = vectors.withColumn("vec_id", F.array(F.col("vec_id")))
    with pytest.raises(TypeError, match="knn_bruteforce"):
        S.ann_lsh(bad, bad.limit(1), k=3, n_planes=4, dim=16)


def test_multimodal_decode_batch_plumbing(spark):
    rows = [(i, bytes([i + 1]) * (10 + i), "image", "fake") for i in range(20)]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.decode_media(media).collect()}
    assert len(out) == 20
    assert out[0]["n_bytes"] == 10 and out[0]["width"] == 7 and out[0]["height"] == 130 % 512
    # null payload tolerated
    null_media = spark.createDataFrame([(99, None, "image", "fake")], M.MEDIA_SCHEMA)
    r = M.decode_media(null_media).first()
    assert r["n_bytes"] == 0 and r["width"] == 0


def test_multimodal_frame_sampling(spark):
    media = spark.createDataFrame([(1, b"x" * 25, "video", "fake")], M.MEDIA_SCHEMA)
    frames = M.sample_frames(media, every_n=10).collect()
    assert [(f["frame_idx"], f["frame_bytes"]) for f in sorted(frames, key=lambda f: f["frame_idx"])] == [
        (0, 10), (1, 10), (2, 5),
    ]


def test_pillow_backend_gated(spark):
    with pytest.raises(NotImplementedError):
        M.PillowBackend()


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (one component, min=1), island 10-11, and a pair graph
    # that never mentions isolated docs (no singleton rows emitted)
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {(r["id"], r["comp"]) for r in D.connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_long_path_converges(spark):
    # a 64-node path is the adversarial diameter case for plain
    # min-propagation; pointer doubling must still converge inside the
    # iteration cap and label every node with the path min.
    # driver_threshold=0 forces the DISTRIBUTED iteration (the small-graph
    # driver union-find would otherwise absorb this size)
    edges = [(i, i + 1) for i in range(64)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = D.connected_components(pairs, max_iters=10, driver_threshold=0).collect()
    assert len(rows) == 65
    assert {r["comp"] for r in rows} == {0}


def test_connected_components_driver_and_distributed_agree(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["id"], r["comp"]) for r in D.connected_components(pairs).collect()}
    dist = {
        (r["id"], r["comp"])
        for r in D.connected_components(pairs, driver_threshold=0).collect()
    }
    assert fast == dist and len(fast) > 0


def test_pack_assignments_concat_and_chunk(spark):
    from adsb_clickhouse_spark.operators.packing import pack_assignments

    # token counts 300, 300, 500, 10 in id order with budget 512:
    # starts 0, 300, 600, 1100 -> packs 0, 0, 1, 2; offsets 0, 300, 88, 76
    rows = [(1, 300), (2, 300), (3, 500), (4, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_assignments(df, budget=512, token_col="n_tok").collect()
    }
    assert got == {1: (0, 0), 2: (0, 300), 3: (1, 88), 4: (2, 76)}


def test_global_prefix_sum_matches_single_partition_window(spark):
    from pyspark.sql import Window

    from adsb_clickhouse_spark.operators.packing import global_exclusive_prefix_sum

    # 5k rows across many range partitions vs the naive one-task window
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 97 + 1).alias("v")
    )
    fast = global_exclusive_prefix_sum(df, ["k"], "v", "s")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    slow = df.withColumn("s", F.coalesce(F.sum("v").over(w), F.lit(0)))
    assert fast.select("k", "s").subtract(slow.select("k", "s")).count() == 0
    assert slow.select("k", "s").subtract(fast.select("k", "s")).count() == 0


def test_blocked_cosine_pairs_match_broadcast_exact(spark):
    import random

    from adsb_clickhouse_spark.operators import similarity as S

    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    # plant a near-dup: 100 ~= 7 (same direction, scaled)
    rows[100] = (100, [x * 2.0 for x in rows[7][1]])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in S.cosine_near_dup_pairs(df, threshold=0.3).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in S.cosine_near_dup_pairs_blocked(df, threshold=0.3, n_blocks=5).collect()
    }
    assert (7, 100, 1.0) in blocked
    assert blocked == exact and len(blocked) > 0


def test_multimodal_resize_geometry(spark):
    # FakeBackend: width=(first*7)%512, height=(len*13)%512
    rows = [(1, bytes([100]) + b"x" * 38, "image", "fake")]  # w=188, h=(39*13)%512=507
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    r = M.resize_media(media, max_side=256).first()
    assert (r["width"], r["height"]) == (188, 507)
    # aspect preserved, long side capped
    assert r["out_height"] == 256 and r["out_width"] == int(188 * (256 / 507))


def test_multimodal_features_compose_with_knn(spark):
    from adsb_clickhouse_spark.operators import similarity as S

    rows = [
        (1, b"aaaa", "image", "fake"),
        (2, b"aaab", "image", "fake"),   # near 1
        (3, b"zzzz9999", "image", "fake"),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = M.extract_features(media, dim=4)
    got = {r["media_id"]: r["feature"] for r in feats.collect()}
    assert got[1] == [0.0, 1.0, 0.0, 0.0]  # 'a'=97, 97%4=1
    out = S.knn_bruteforce(
        feats, feats.filter(F.col("media_id") == 1), k=1,
        id_col="media_id", vec_col="feature",
    ).first()
    assert out["neighbor_id"] == 2


def test_ivf_lloyd_refined_recall_at_scale(spark):
    """The Lloyd-refined IVF path (iters>0 — not SQL-expressible, so the
    oracle gate runs iters=0): clustered vectors at a size that keeps
    the default pytest suite fast, recall@k vs exact brute force at
    fixed nprobe. The 1M-vector figure is README's measured-scale row;
    this size keeps `pytest tests/` runnable on small machines."""
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        knn_bruteforce,
    )
    n, dim, n_lists, k, nprobe = 100_000, 32, 64, 10, 8
    corpus = make_clustered_vectors(spark, n, dim, n_lists, seed=0).persist()
    corpus.count()
    queries = corpus.filter(F.col("vec_id") % 20_000 == 0).persist()  # 5 queries
    try:
        assignments, centroids = ivf_build(
            corpus, n_lists=n_lists, iters=2, id_col="vec_id", vec_col="embedding"
        )
        got = {}
        for r in ivf_search(
            corpus, assignments, centroids, queries,
            k=k, nprobe=nprobe, id_col="vec_id", vec_col="embedding",
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        want = {}
        for r in knn_bruteforce(
            corpus, queries, k=k, id_col="vec_id", vec_col="embedding", dim=dim
        ).collect():
            want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recall = sum(
            len(got.get(q, set()) & nbrs) / len(nbrs) for q, nbrs in want.items()
        ) / len(want)
        assert recall >= 0.9, f"recall@{k}={recall}"
    finally:
        corpus.unpersist()
        queries.unpersist()


def test_ivfpq_full_probe_matches_flat_pq(spark):
    """nprobe = n_lists degrades IVF-ADC to flat PQ: the list pruning
    admits every candidate, so results must equal pq_search exactly
    (same ADC scoring, same tie-break) — the matched-candidate-budget
    equivalence that pins the composition's scoring half."""
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_search,
        pq_search,
    )
    corpus = make_clustered_vectors(spark, 2_000, 16, 8, seed=2).persist()
    corpus.count()
    q = corpus.filter(F.col("vec_id") < 3)
    try:
        indexed, coarse, pq_cents = ivfpq_build(
            corpus, n_lists=4, m=4, ksub=8, iters=2
        )
        indexed = indexed.persist()
        flat = pq_search(
            indexed.select("id", *[f"code_{j}" for j in range(4)]), pq_cents, q, k=5
        ).collect()
        full = ivfpq_search(indexed, coarse, pq_cents, q, k=5, nprobe=4).collect()
        assert sorted(map(tuple, full)) == sorted(map(tuple, flat))
    finally:
        corpus.unpersist()
        indexed.unpersist()


def test_ivfpq_narrow_probe_cluster_recall(spark):
    """Lloyd-refined IVF-ADC at a narrow probe: every returned neighbor
    shares the query's latent cluster (PQ collapses same-cluster
    vectors to tied codes — cluster membership, not exact-rank order,
    is the meaningful recall property; see test_pq_adc docstring), and
    candidates only come from the probed inverted lists."""
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.similarity import ivfpq_build, ivfpq_search
    n_clusters = 8
    corpus = make_clustered_vectors(spark, 4_000, 16, n_clusters, seed=3).persist()
    corpus.count()
    q = corpus.filter(F.col("vec_id").isin(0, 1, 2))
    try:
        indexed, coarse, pq_cents = ivfpq_build(
            corpus, n_lists=n_clusters, m=4, ksub=16, iters=3
        )
        indexed = indexed.persist()
        out = ivfpq_search(indexed, coarse, pq_cents, q, k=5, nprobe=1).collect()
        assert len(out) == 15  # 3 queries × k
        for r in out:
            assert r["neighbor_id"] % n_clusters == r["query_id"] % n_clusters
        # pruning semantics: with nprobe=1 every neighbor sits in the
        # query's own (single probed) inverted list
        lists = {r["id"]: r["list_id"] for r in indexed.select("id", "list_id").collect()}
        for r in out:
            assert lists[r["neighbor_id"]] == lists[r["query_id"]]
    finally:
        corpus.unpersist()
        indexed.unpersist()


def test_ivfpq_rerank_full_budget_matches_bruteforce(spark):
    """IVFADC+R at full budget degrades to exact search: nprobe =
    n_lists admits every candidate and rerank ≥ corpus size rescores
    them all with the same codegen cosine chain knn_bruteforce uses —
    results must be identical (values, ranks, tie-breaks). This pins
    the rerank stage's scoring to the exact path bit-for-bit."""
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_search,
        knn_bruteforce,
    )
    corpus = make_clustered_vectors(spark, 1_000, 16, 4, seed=5).persist()
    corpus.count()
    q = corpus.filter(F.col("vec_id") < 2)
    try:
        indexed, coarse, pq_cents = ivfpq_build(
            corpus, n_lists=4, m=4, ksub=8, iters=2, keep_vectors=True
        )
        indexed = indexed.persist()
        exact = knn_bruteforce(corpus, q, k=4).collect()
        rr = ivfpq_search(
            indexed, coarse, pq_cents, q, k=4, nprobe=4, rerank=2_000
        ).collect()
        assert sorted(map(tuple, rr)) == sorted(map(tuple, exact))
        # narrow probe with rerank budget ≥ list size: the probe is
        # exact WITHIN its probed list, so well-separated clusters
        # recover the exact top-k. (A budget below the list size would
        # not: this corpus is so tight that PQ collapses each cluster
        # to one code, ADC ties id-break, and high-id true neighbors
        # fall off the shortlist — the make_clustered_vectors noise
        # docstring; README's stored IVF-ADC row is the realistic regime.)
        nr = ivfpq_search(
            indexed, coarse, pq_cents, q, k=4, nprobe=1, rerank=300
        ).collect()
        exact_s = {(r["query_id"], r["neighbor_id"]) for r in exact}
        nr_s = {(r["query_id"], r["neighbor_id"]) for r in nr}
        assert len(nr_s & exact_s) / len(exact_s) >= 0.9
    finally:
        corpus.unpersist()
        indexed.unpersist()


def test_ivfpq_stored_probe_matches_and_prunes(spark, tmp_path):
    """The stored IVF-ADC layout: codes written partitionBy(list_id)
    via write_ann_layout, probed back with ivfpq_probe_stored — results
    must equal the in-memory ivfpq_search bit-for-bit AND the scan must
    carry the probe as a PartitionFilter (probe cost ∝ nprobe/n_lists,
    never corpus size)."""
    import os

    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.layout import write_ann_layout
    from adsb_clickhouse_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_probe_stored,
        ivfpq_search,
    )
    corpus = make_clustered_vectors(spark, 2_000, 16, 8, seed=4).persist()
    corpus.count()
    q = corpus.filter(F.col("vec_id") < 2)
    path = os.path.join(str(tmp_path), "ivfpq_layout")
    try:
        indexed, coarse, pq_cents = ivfpq_build(
            corpus, n_lists=8, m=4, ksub=8, iters=2
        )
        indexed = indexed.persist()
        write_ann_layout(indexed, path, key_col="list_id", sort_col="id")
        mem = ivfpq_search(indexed, coarse, pq_cents, q, k=4, nprobe=2).collect()
        stored = ivfpq_probe_stored(
            spark, path, coarse, pq_cents, q, k=4, nprobe=2
        )
        assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, mem))
        plan = stored._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "list_id" in plan.split("PartitionFilters")[1][:200]
    finally:
        corpus.unpersist()
        indexed.unpersist()


def test_pq_adc_recall_lloyd_refined(spark):
    """PQ/ADC with per-subspace Lloyd refinement (iters>0 — the oracle
    gate pins iters=0). PQ is a coarse quantizer: same-cluster vectors
    collapse to identical codes (their ADC scores tie exactly), so
    exact-top-k recall is the wrong property to assert. The property
    that matters is that ADC ranks the query's OWN latent cluster above
    every other cluster — all returned neighbors must share the query's
    cluster. Also pins code range and the one-row-per-vector encode
    contract."""
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.similarity import pq_build, pq_search
    n, dim, m, ksub, k, n_clusters = 20_000, 32, 4, 16, 10, 32
    corpus = make_clustered_vectors(spark, n, dim, n_clusters, seed=1).persist()
    corpus.count()
    queries = corpus.filter(F.col("vec_id") % 4000 == 0)  # 5 queries
    try:
        codes, cents = pq_build(corpus, m=m, ksub=ksub, iters=2)
        codes = codes.persist()
        assert codes.count() == n
        rng = codes.agg(
            *[F.min(f"code_{j}").alias(f"lo{j}") for j in range(m)],
            *[F.max(f"code_{j}").alias(f"hi{j}") for j in range(m)],
        ).first()
        assert all(rng[f"lo{j}"] >= 0 and rng[f"hi{j}"] < ksub for j in range(m))

        hits = pq_search(codes, cents, queries, k=k).collect()
        assert len(hits) == 5 * k
        for r in hits:  # generator assigns cluster = vec_id % n_clusters
            assert r["neighbor_id"] % n_clusters == r["query_id"] % n_clusters, (
                f"query {r['query_id']}: neighbor {r['neighbor_id']} from "
                "a foreign cluster out-scored the home cluster"
            )
            # reconstructed cosine stays positive and meaningful even
            # though ksub=16 codes must cover 32 clusters per subspace
            # (each code averages ~2 cluster centers)
            assert r["cos_sim"] > 0.5
    finally:
        corpus.unpersist()
        codes.unpersist()


def test_pii_scrub_detects_and_masks(spark):
    """PII curation pass: planted email/phone/IP/SSN spans are counted
    per category and masked with category tokens; clean docs pass
    through byte-identical with has_pii=false. TPC-H-style phone
    groups (25-989-741-2988) and US 3-group phones both match."""
    from pyspark.sql import Row

    from adsb_clickhouse_spark.operators.scrub import pii_scrub

    docs = spark.createDataFrame([
        Row(doc_id=1, text="contact bob.smith+x@example.co.uk for details"),
        Row(doc_id=2, text="call 555-123-4567 or 25-989-741-2988 now"),
        Row(doc_id=3, text="server at 192.168.001.1 responded"),
        Row(doc_id=4, text="ssn 123-45-6789 leaked"),
        Row(doc_id=5, text="a perfectly clean document"),
    ])
    out = {r["id"]: r for r in pii_scrub(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["clean_text"] == "contact <EMAIL> for details"
    assert out[2]["n_phone"] == 2 and out[2]["clean_text"] == "call <PHONE> or <PHONE> now"
    assert out[3]["n_ipv4"] == 1 and "<IPV4>" in out[3]["clean_text"]
    # precedence-aware counts: the dotted IP is NOT double-counted as a
    # phone (counts run on the progressively-redacted text)
    assert out[3]["n_phone"] == 0
    assert out[4]["n_ssn"] == 1 and out[4]["clean_text"] == "ssn <SSN> leaked"
    assert not out[5]["has_pii"]
    assert out[5]["clean_text"] == "a perfectly clean document"
    assert all(out[i]["has_pii"] for i in (1, 2, 3, 4))


def test_pii_scrub_null_text_and_extended_shapes(spark):
    """NULL text follows the NULL-as-'' contract (zero counts,
    has_pii=false, clean_text='' — NOT NULL, which would drop the doc
    from both filter(has_pii) and filter(~has_pii)); parenthesized US
    phones and +cc (0) international forms are redacted; out-of-range
    dotted quads (999.999.999.999) are never counted as ipv4 — they
    fall through to the dotted-phone shape (safe over-redaction)."""
    from pyspark.sql import Row

    from adsb_clickhouse_spark.operators.scrub import pii_scrub

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=None),
            Row(doc_id=2, text="call (555) 123-4567 today"),
            Row(doc_id=3, text="or +44 (0) 20 7946 0958 from abroad"),
            Row(doc_id=4, text="bogus quad 999.999.999.999 is not an ip"),
            Row(doc_id=5, text="zero-padded 192.168.001.1 is"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in pii_scrub(docs).collect()}
    assert out[1]["has_pii"] is False and out[1]["clean_text"] == ""
    assert all(out[1][f"n_{k}"] == 0 for k in ("email", "ssn", "ipv4", "phone"))
    assert out[2]["n_phone"] == 1 and out[2]["clean_text"] == "call <PHONE> today"
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["clean_text"]
    # octet range guard: categorized as phone (dotted shape), never ipv4
    assert out[4]["n_ipv4"] == 0 and out[4]["n_phone"] == 1
    assert out[5]["n_ipv4"] == 1 and "<IPV4>" in out[5]["clean_text"]


def test_pii_scrub_stays_codegen(spark):
    """The scrub pass is a single codegen projection — no Python UDF,
    no shuffle (SURVEY §2.10 discipline)."""
    from pyspark.sql import Row

    from adsb_clickhouse_spark.operators.scrub import pii_scrub

    docs = spark.createDataFrame([Row(doc_id=1, text="x")])
    plan = pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_ann_layout_probe_prunes(spark, tmp_path, vectors):
    """The stored-ANN-layout promise, proven at the plan level: writing
    the corpus partitioned by its index key and probing a key subset
    must (a) return exactly the matching rows and (b) reach the scan as
    a PartitionFilter — the probe lists only the probed directories, so
    cost scales with nprobe/n_keys, not corpus size."""
    import os

    from adsb_clickhouse_spark.operators.layout import (
        probe_ann_layout,
        write_ann_layout,
    )

    # LSH layout: bucket is the partition key
    hashed = S.hash_corpus(vectors, n_planes=4, dim=16)
    lsh_path = os.path.join(str(tmp_path), "lsh_layout")
    write_ann_layout(hashed, lsh_path, key_col="bucket", sort_col="neighbor_id")
    all_buckets = sorted(r["bucket"] for r in hashed.select("bucket").distinct().collect())
    probe = all_buckets[:2]
    got = probe_ann_layout(spark, lsh_path, probe, key_col="bucket")
    want = {r["neighbor_id"] for r in hashed.filter(F.col("bucket").isin(probe)).collect()}
    assert {r["neighbor_id"] for r in got.collect()} == want
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:200]
    # only the probed directories exist in the scan: prune is physical
    dirs = {e for e in os.listdir(lsh_path) if e.startswith("bucket=")}
    assert len(dirs) == len(all_buckets)

    # IVF layout: list_id is the partition key — same writer/prober
    assignments, _cent = S.ivf_build(vectors, n_lists=4, iters=1)
    indexed = (
        vectors.withColumnRenamed("vec_id", "id").join(assignments, "id")
    )
    ivf_path = os.path.join(str(tmp_path), "ivf_layout")
    write_ann_layout(indexed, ivf_path, key_col="list_id", sort_col="id")
    got2 = probe_ann_layout(spark, ivf_path, [0, 1], key_col="list_id")
    want2 = {r["id"] for r in indexed.filter(F.col("list_id").isin([0, 1])).collect()}
    assert {r["id"] for r in got2.collect()} == want2
    plan2 = got2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan2


def test_pii_redact_complete_and_idempotent(spark):
    """After one scrub pass no pattern matches remain (completeness) and
    a second pass is a no-op (idempotence: category tokens contain no
    digits or @, so they can never re-match) — over a seeded fuzz corpus
    with planted PII at random offsets."""
    import random

    from pyspark.sql import Row

    from adsb_clickhouse_spark.operators.scrub import (
        PII_PATTERNS,
        pii_redact,
        pii_scrub,
    )

    rng = random.Random(42)
    pii = ["a.b@c.io", "555-123-4567", "10.0.0.1", "987-65-4321",
           "+44 123 456 7890", "alice+spam@mail.example.com"]
    words = ["alpha", "beta", "gamma", "12", "x9", "...", "(y)"]
    docs = []
    for i in range(80):
        toks = [rng.choice(words) for _ in range(rng.randint(0, 12))]
        for _ in range(rng.randint(0, 3)):
            toks.insert(rng.randint(0, len(toks)), rng.choice(pii))
        docs.append(Row(doc_id=i, text=" ".join(toks)))
    df = spark.createDataFrame(docs)
    once = pii_scrub(df).select("id", F.col("clean_text").alias("text"))
    # completeness: zero residual matches of ANY category
    residual = pii_scrub(once, id_col="id")
    assert residual.filter(F.col("has_pii")).count() == 0
    # idempotence: second redaction changes nothing
    twice = once.select("id", pii_redact(F.col("text")).alias("text2"))
    joined = once.join(twice, "id")
    assert joined.filter(F.col("text") != F.col("text2")).count() == 0
    assert set(PII_PATTERNS) == {"email", "ssn", "ipv4", "phone"}


# ---------------------------------------------------------------- semdedup


def test_semdedup_drops_all_but_cluster_head(spark, vectors):
    """5 planted clusters of 8 near-identical vectors: SemDeDup at a
    high threshold keeps each cluster's lowest id and condemns (almost)
    every other member with a same-planted-cluster witness. "Almost":
    k-means may split a planted cluster across cells — the paper's
    accepted cluster-boundary recall miss — so we assert ≥ 30 of the 35
    possible drops, never a cluster head, and witness semantics exactly."""
    out = S.semdedup(vectors, threshold=0.9, n_lists=5, iters=3).collect()
    dropped = {r["id"] for r in out}
    assert dropped.isdisjoint({0, 1, 2, 3, 4})  # heads have no lower-id witness
    assert len(dropped) >= 30
    for r in out:
        assert r["witness"] < r["id"]
        assert r["witness"] % 5 == r["id"] % 5  # witness from the same planted cluster
        assert r["cos_sim"] >= 0.9


def test_semdedup_threshold_above_one_drops_nothing(spark, vectors):
    out = S.semdedup(vectors, threshold=1.01, n_lists=5, iters=3).collect()
    assert out == []


def test_semdedup_precomputed_assignments_skip_build(spark, vectors):
    """Passing the stored IVF layout's assignments makes semdedup a pure
    partition-local pass — results identical to the self-built path."""
    assignments, _ = S.ivf_build(vectors, n_lists=5, iters=3)
    a = sorted(map(tuple, S.semdedup(vectors, threshold=0.9, n_lists=5, iters=3).collect()))
    b = sorted(map(tuple, S.semdedup(vectors, threshold=0.9, assignments=assignments).collect()))
    assert a == b


def test_semdedup_zero_norm_vectors_excluded(spark, vectors):
    """Zero-norm rows can neither be dropped nor serve as witnesses —
    the shared nonzero-norm contract of every cosine path."""
    with_zero = vectors.union(
        spark.createDataFrame([(99, [0.0] * 16)], "vec_id long, embedding array<double>")
    )
    out = S.semdedup(with_zero, threshold=0.9, n_lists=5, iters=3).collect()
    assert all(r["id"] != 99 and r["witness"] != 99 for r in out)


# ------------------------------------------------------- winnow near-dup


def test_winnow_near_dup_catches_partial_overlap(spark):
    """Two documents sharing one long block inside otherwise-unrelated
    text: whole-doc Jaccard sits far below any sane threshold, but the
    shared substring guarantees common winnowing fingerprints."""
    from adsb_clickhouse_spark.operators.dedup import (
        ngram_jaccard_pairs,
        winnow_near_dup_pairs,
    )

    block = "the quarterly report shows strong growth across all regions this year"
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta " + block + " epsilon zeta eta theta"),
            (1, "completely different opening words here " + block + " and a different tail too"),
            (2, "nothing in common with anything else at all whatsoever in this text"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_near_dup_pairs(docs, min_common=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
    assert pairs[0]["n_common"] >= 3
    # whole-doc Jaccard misses the same pair at the standard threshold
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []


def test_winnow_shared_substring_guarantee(spark):
    """Any shared substring of length >= k+w-1 yields >= 1 common
    fingerprint (the Schleimer et al. guarantee)."""
    from adsb_clickhouse_spark.operators.dedup import winnow_fingerprints

    shared = "abcdefghijk"  # length 11 = k+w-1 for k=8, w=4
    docs = spark.createDataFrame(
        [(0, "xxxx " + shared + " yyyy"), (1, "zzzz " + shared + " wwww")],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=8, w=4)
    common = (
        fp.filter(F.col("doc_id") == 0)
        .select("fingerprint")
        .intersect(fp.filter(F.col("doc_id") == 1).select("fingerprint"))
        .count()
    )
    assert common >= 1


def test_winnow_kernels_agree(spark):
    """The arrow kernel (per-doc mapInPandas, r15) and the window
    kernel emit IDENTICAL (doc_id, fingerprint) rows — including the
    contract edge cases: NULL text (no rows), empty text (one
    fingerprint of md5('')), text shorter than k (whole-text gram),
    exactly k, k+w-1, repeated chars (distinct collapses the minima),
    and multi-byte code points (substr and Python slicing both count
    code points)."""
    from adsb_clickhouse_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "ab"),
            (4, "abcdefgh"),
            (5, "abcdefghijk"),
            (6, "héllo wörld \U0001f600\U0001f600 漢字テスト abcdefghij"),
            (7, "a" * 40),
            (8, "the quick brown fox jumps over the lazy dog " * 3),
        ],
        "doc_id long, text string",
    )
    for k, w in ((8, 4), (3, 2), (5, 5)):
        a = sorted(map(tuple, winnow_fingerprints(docs, k=k, w=w).collect()))
        b = sorted(
            map(
                tuple,
                winnow_fingerprints(docs, k=k, w=w, kernel="arrow").collect(),
            )
        )
        assert a == b and len(a) > 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winnow_fingerprints(docs, kernel="nope")


def test_winnow_near_dup_hot_fingerprint_cap(spark):
    """A fingerprint present in every doc is dropped by max_fp_freq —
    template boilerplate can't quadratically inflate the join."""
    from adsb_clickhouse_spark.operators.dedup import winnow_near_dup_pairs

    boiler = "standard footer text appears on every single page of the site"
    docs = spark.createDataFrame(
        [(i, f"unique content number {i} with words " + boiler) for i in range(20)],
        "doc_id long, text string",
    )
    capped = winnow_near_dup_pairs(docs, min_common=1, max_fp_freq=10).collect()
    uncapped = winnow_near_dup_pairs(docs, min_common=1, max_fp_freq=None).count()
    assert uncapped == 190  # all C(20,2) pairs share the boilerplate
    assert len(capped) < 190


def test_semdedup_tiled_kernel_matches_untiled(spark, vectors):
    """tile=4 forces many column tiles on every cluster; results must be
    identical to the single-tile path (same rounding, same first-witness
    semantics across tile boundaries)."""
    a = sorted(map(tuple, S.semdedup(vectors, threshold=0.9, n_lists=5, iters=3).collect()))
    b = sorted(
        map(tuple, S.semdedup(vectors, threshold=0.9, n_lists=5, iters=3, tile=4).collect())
    )
    assert a == b and len(a) >= 30


# ---------------------------------------------------------------- substr dedup


def test_duplicated_substring_stats_removes_shared_run(spark):
    """Two docs share a 6-token run; with k=4 every 4-gram inside the
    run is corpus-duplicated, so exactly those 6 positions are removed
    from both docs as ONE span, and the unique remainders survive."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten"),
        (3, "totally unrelated text with none of those words at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.duplicated_substring_stats(d, k=4).collect()}
    assert out[1]["n_dup_tokens"] == 6 and out[1]["n_dup_spans"] == 1
    assert out[1]["dedup_text"] == "one two three four five six"
    assert out[2]["n_dup_tokens"] == 6 and out[2]["n_dup_spans"] == 1
    assert out[2]["dedup_text"] == "seven eight nine ten"
    assert out[3]["n_dup_tokens"] == 0 and out[3]["n_dup_spans"] == 0
    assert out[3]["dedup_text"] == rows[2][1]


def test_duplicated_substring_stats_within_doc_and_short_docs(spark):
    """A k-gram repeated WITHIN one doc is duplicated (count>=2 is
    global, not distinct-doc); docs shorter than k have no grams; NULL
    text is empty text; two spans stay two spans."""
    rep = "a b c d"  # k=4 gram repeated twice inside doc 1
    rows = [
        (1, f"{rep} xx yy zz ww {rep}"),
        (2, "tiny doc"),
        (3, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.duplicated_substring_stats(d, k=4).collect()}
    assert out[1]["n_dup_tokens"] == 8 and out[1]["n_dup_spans"] == 2
    assert out[1]["dedup_text"] == "xx yy zz ww"
    assert out[2]["n_dup_tokens"] == 0 and out[2]["dedup_text"] == "tiny doc"
    assert out[3]["n_dup_tokens"] == 0 and out[3]["dedup_text"] == ""


def test_duplicated_substring_overlapping_spans_merge(spark):
    """Overlapping duplicated k-gram windows merge into one maximal
    span: docs 1/2 share 'p q r s t' (k=4 -> starts at two overlapping
    positions) and the coverage union is a single 5-token span."""
    rows = [
        (1, "u1 u2 p q r s t u3"),
        (2, "v1 p q r s t v2 v3"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.duplicated_substring_stats(d, k=4).collect()}
    assert out[1]["n_dup_tokens"] == 5 and out[1]["n_dup_spans"] == 1
    assert out[1]["dedup_text"] == "u1 u2 u3"
    assert out[2]["dedup_text"] == "v1 v2 v3"


# ------------------------------------------------------------------- chunking


def test_chunk_documents_offsets_and_overlap(spark):
    """12 tokens, chunk=5, stride=3 -> starts 1,4,7,10; the tail chunk
    is short; overlapping windows share stride-overlap tokens."""
    from adsb_clickhouse_spark.operators.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(1, 13))
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(d, chunk_tokens=5, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["start_tok"] for r in rows] == [1, 4, 7, 10]
    assert [r["n_tok"] for r in rows] == [5, 5, 5, 3]
    assert rows[0]["chunk_text"] == "t1 t2 t3 t4 t5"
    assert rows[1]["chunk_text"] == "t4 t5 t6 t7 t8"
    assert rows[-1]["chunk_text"] == "t10 t11 t12"


def test_chunk_documents_short_and_null_docs(spark):
    """Docs at or under one chunk produce exactly one chunk; NULL text
    produces one empty chunk (every doc stays represented)."""
    from adsb_clickhouse_spark.operators.packing import chunk_documents

    d = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "x " * 5)], "doc_id long, text string"
    )
    out = {}
    for r in chunk_documents(d, chunk_tokens=5, stride=3).collect():
        out.setdefault(r["doc_id"], []).append(r)
    assert len(out[1]) == 1 and out[1][0]["chunk_text"] == "a b c"
    assert out[1][0]["n_tok"] == 3
    assert len(out[2]) == 1 and out[2][0]["chunk_text"] == ""
    assert out[2][0]["n_tok"] == 0
    assert len(out[3]) == 1 and out[3][0]["n_tok"] == 5


# ------------------------------------------------------- chunk -> ANN (RAG)


def test_chunk_embed_index_composition(spark):
    """The RAG indexing path composes from existing operators: chunk the
    corpus, embed each chunk with a deterministic hash projection (pure
    codegen — a stand-in for a real encoder), build the IVF index over
    chunk embeddings, and retrieve. A chunk duplicated across two docs
    embeds identically, so querying with it returns both copies at
    cos_sim 1.0 before any other neighbor."""
    from adsb_clickhouse_spark.functions.texttools import salted_md5_long
    from adsb_clickhouse_spark.operators.packing import chunk_documents

    shared = " ".join(f"s{i}" for i in range(8))
    rows = [
        (1, f"{shared} aa bb cc dd ee ff gg hh"),
        (2, f"zz yy xx ww vv uu tt ss {shared}"),
        (3, "completely different content with no shared window at all x1 x2 x3 x4 x5"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(d, chunk_tokens=8, stride=8).withColumn(
        "vec_id", F.col("doc_id") * 100 + F.col("chunk_idx")
    )
    # deterministic 8-dim hash embedding of the chunk TEXT (identical
    # text -> identical vector), values in [0, 1)
    dims = [
        (salted_md5_long(F.col("chunk_text"), j) % 1000).cast("double") / 1000.0
        for j in range(8)
    ]
    emb = chunks.select("vec_id", F.array(*dims).cast("array<double>").alias("embedding"))
    assign, cents = S.ivf_build(emb, n_lists=3, iters=2)
    q = emb.filter(F.col("vec_id") == 100)  # doc 1's shared-window chunk
    out = sorted(
        S.ivf_search(emb, assign, cents, q, k=2, nprobe=3).collect(),
        key=lambda r: r["rank"],
    )
    # self is excluded by contract; rank 1 is the OTHER copy of the
    # duplicated chunk at exact cosine 1.0, ahead of every honest neighbor
    assert out[0]["neighbor_id"] == 201 and abs(out[0]["cos_sim"] - 1.0) < 1e-9
    assert out[1]["cos_sim"] < 1.0


def test_dedup_audit_sampled_recall_and_precision(spark):
    """The audit samples deterministically, measures LSH recall against
    exact Jaccard on the sample, and reports precision 1.0 (candidates
    are exact-verified). On the planted-dup synthetic corpus the exact
    pairs at J>=0.5 within the sample must all be found or counted."""
    corpus = make_corpus(spark, 4000)
    row = D.dedup_audit(corpus, threshold=0.5, sample_mod=4).collect()[0]
    assert 0 < row["sample_docs"] < 4000
    assert row["truth_pairs"] > 0
    assert row["precision"] == 1.0  # verified candidates can't be wrong
    assert row["recall"] >= 0.9     # exact dups collide in every band
    # deterministic: same numbers on a rerun
    again = D.dedup_audit(corpus, threshold=0.5, sample_mod=4).collect()[0]
    assert tuple(row) == tuple(again)


# ---------------------------------------------------------------- line dedup


def test_boilerplate_line_removal_excises_frequent_lines(spark):
    rows = [
        (i, f"unique content {i}\nSUBSCRIBE NOW\nCopyright 2026\nfooter {i}")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.boilerplate_line_removal(docs, min_doc_freq=5).collect()}
    assert len(out) == 10
    for i in range(10):
        assert out[i]["text_clean"] == f"unique content {i}\nfooter {i}"
        assert out[i]["n_kept"] == 2 and out[i]["n_removed"] == 2


def test_boilerplate_line_removal_trim_normalization_and_order(spark):
    # raw whitespace variants of the same banner count as ONE line; kept
    # lines come back in original order, with their raw bytes untouched
    docs = spark.createDataFrame(
        [
            (0, "alpha\n  SHARE THIS  \nbravo"),
            (1, "charlie\nSHARE THIS\ndelta"),
            (2, "echo\nSHARE THIS \nfoxtrot"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.boilerplate_line_removal(docs, min_doc_freq=3).collect()}
    assert out[0]["text_clean"] == "alpha\nbravo"
    assert out[1]["text_clean"] == "charlie\ndelta"
    assert out[2]["text_clean"] == "echo\nfoxtrot"


def test_boilerplate_line_removal_keeps_fully_boilerplate_doc(spark):
    docs = spark.createDataFrame(
        [(i, "AD BLOCK DETECTED") for i in range(4)] + [(9, "real text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.boilerplate_line_removal(docs, min_doc_freq=4).collect()}
    assert out[0]["text_clean"] == "" and out[0]["n_kept"] == 0 and out[0]["n_removed"] == 1
    assert out[9]["text_clean"] == "real text"


def test_boilerplate_line_removal_null_and_empty_text(spark):
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.boilerplate_line_removal(docs, min_doc_freq=2).collect()}
    # NULL and '' both normalize to one empty line, which is never
    # counted as boilerplate (empty lines carry structure, not signal)
    assert out[0]["text_clean"] == "" and out[0]["n_removed"] == 0
    assert out[1]["text_clean"] == "" and out[1]["n_removed"] == 0
    assert out[2]["text_clean"] == "x"


def test_boilerplate_paragraph_granularity(spark):
    # CCNet-style paragraph dedup: sep="\n\n"; newlines INSIDE a
    # paragraph do not split it
    para = "lorem ipsum\ndolor sit"
    docs = spark.createDataFrame(
        [(i, f"keep {i}\n\n{para}") for i in range(6)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.boilerplate_line_removal(docs, min_doc_freq=6, sep="\n\n").collect()
    }
    for i in range(6):
        assert out[i]["text_clean"] == f"keep {i}"
        assert out[i]["n_removed"] == 1


# ------------------------------------------------------- perceptual hashing


def _pay(i: int) -> bytes:
    return bytes(((i * 37 + j * 11) % 251) for j in range(256))


def _media_df(spark, rows):
    return spark.createDataFrame(
        [(i, p, "image", "png") for i, p in rows],
        "media_id long, payload binary, media_type string, format string",
    )


def test_perceptual_hash_deterministic_and_null_safe(spark):
    df = _media_df(spark, [(0, _pay(0)), (1, _pay(0)), (2, None), (3, b"")])
    out = {r["media_id"]: r["phash"] for r in M.perceptual_hash(df).collect()}
    assert out[0] == out[1]          # same pixels, same hash
    assert out[2] == 0 and out[3] == 0  # NULL/empty payloads hash to 0


def test_phash_near_dup_finds_planted_pairs_only(spark):
    perturbed = bytearray(_pay(3))
    perturbed[12:16] = b"\xff" * 4    # brighten block 3
    perturbed[160:164] = b"\x00" * 4  # darken block 40
    rows = [(0, _pay(3)), (1, bytes(perturbed)), (2, _pay(3))] + [
        (10 + i, _pay(50 + i)) for i in range(8)  # unrelated
    ]
    hashes = M.perceptual_hash(_media_df(spark, rows))
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in M.phash_near_dup(hashes).collect()}
    assert pairs[(0, 2)] == 0                    # exact pixel dup
    assert (0, 1) in pairs and 0 < pairs[(0, 1)] <= 3  # perturbed copy
    assert (1, 2) in pairs
    assert all(a < 10 and b < 10 for a, b in pairs)  # no unrelated pairs


def test_phash_near_dup_pigeonhole_guard(spark):
    hashes = M.perceptual_hash(_media_df(spark, [(0, _pay(0))]))
    with pytest.raises(ValueError, match="pigeonhole"):
        M.phash_near_dup(hashes, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide"):
        M.phash_near_dup(hashes, bands=5)


def test_phash_near_dup_hot_band_valve(spark):
    # 10 constant-pixel thumbnails: identical hashes, so every band key
    # has frequency 10 — the valve drops them all before the self-join
    rows = [(i, bytes([128]) * 64) for i in range(10)]
    hashes = M.perceptual_hash(_media_df(spark, rows)).persist()
    assert M.phash_near_dup(hashes).count() == 45  # all C(10,2) pairs
    assert M.phash_near_dup(hashes, max_band_freq=2).count() == 0
    hashes.unpersist()


def test_phash_composes_with_byte_budget_partitioning(spark):
    media = M.repartition_by_bytes(
        _media_df(spark, [(i, _pay(i)) for i in range(20)]), target_bytes=1 << 10
    )
    out = M.perceptual_hash(media)
    assert out.count() == 20
    assert M.phash_near_dup(out, max_hamming=3).count() == 0


# -- hashed-projection text embedder (r11) --------------------------------


def test_hashed_text_embeddings_law_and_determinism(spark):
    """Near-identical texts land at cosine ≈ 1, distinct texts don't;
    the law is a pure function of the text (identical across
    partitionings and runs); zero-token docs produce no row."""
    a = ("the harbour town wakes slowly to the sound of carts rolling "
         "over old cobblestones while fishermen sort the night's catch")
    a2 = a.replace("fishermen", "merchants")  # one token changed
    b = ("register allocation interacts with instruction scheduling in "
         "optimizing compilers making phase ordering a hard problem")
    docs = spark.createDataFrame(
        [(0, a), (1, a2), (2, b), (3, None), (4, "")],
        "doc_id long, text string",
    )
    emb = {r["doc_id"]: r["embedding"]
           for r in S.hashed_text_embeddings(docs, dim=32).collect()}
    assert set(emb) == {0, 1, 2}  # NULL/empty text: no row
    assert all(len(v) == 32 and all(c == int(c) for c in v)
               for v in emb.values())

    import math
    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / (math.sqrt(sum(x*x for x in u)) * math.sqrt(sum(x*x for x in v)))
    assert cos(emb[0], emb[1]) > 0.9   # near-dup pair
    assert cos(emb[0], emb[2]) < 0.7   # distinct docs
    # partition-invariant (pure per-row law + one exact integer agg)
    emb8 = {r["doc_id"]: r["embedding"]
            for r in S.hashed_text_embeddings(docs.repartition(8), dim=32).collect()}
    assert emb8 == emb


def test_semdedup_runs_on_text_only_corpus_via_hashed_embedder(spark):
    """The semantic-dedup loop closes WITHOUT an external embeddings
    table: hashed_text_embeddings feeds semdedup directly, and the
    planted near-copy is pruned with its lower-id witness."""
    a = ("a long travel diary entry describing mountain passes rivers "
         "and the small villages between them in plain honest words")
    docs = spark.createDataFrame(
        [(0, a), (1, a.replace("honest", "simple")),
         (2, "entirely different technical notes about b-tree page splits "
             "write amplification and compaction scheduling in storage")],
        "doc_id long, text string",
    )
    emb = S.hashed_text_embeddings(docs, dim=32)
    out = S.semdedup(
        emb, threshold=0.9, n_lists=1, iters=0,
        id_col="doc_id", vec_col="embedding",
    ).collect()
    assert [(r["id"], r["witness"]) for r in out] == [(1, 0)]


def test_hembed_ngram_separates_paraphrase_from_bag_permutation(spark):
    """The r12 ngram=(1,2) A/B: under unigram hashing, a bag-identical
    PERMUTATION of a text embeds to cosine exactly 1.0 — at ANY
    threshold that catches true word-substitution paraphrases, SemDeDup
    also merges every reordered distractor. Bigram features make the
    vector word-order sensitive: every paraphrase cosine strictly
    exceeds every permutation cosine, so a threshold between them gives
    paraphrase recall 30/30 with 0/30 permutation false-merges — at the
    SAME dim."""
    import hashlib as _h
    import math

    def words(seed, n=18):
        return ["w" + _h.md5(f"{seed}|{p}".encode()).hexdigest()[:6]
                for p in range(n)]

    rows = []
    for i in range(30):
        base = words(f"base|{i}")
        para = list(base)
        para[5] = "w" + _h.md5(f"sub|{i}|a".encode()).hexdigest()[:6]
        para[12] = "w" + _h.md5(f"sub|{i}|b".encode()).hexdigest()[:6]
        # deterministic bag-preserving permutation: reverse + rotate
        perm = list(reversed(base))
        perm = perm[7:] + perm[:7]
        rows += [(i, " ".join(base)), (1000 + i, " ".join(para)),
                 (2000 + i, " ".join(perm))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / (math.sqrt(sum(x * x for x in u))
                    * math.sqrt(sum(x * x for x in v)))

    def pairs(emb):
        para = [cos(emb[i], emb[1000 + i]) for i in range(30)]
        perm = [cos(emb[i], emb[2000 + i]) for i in range(30)]
        return para, perm

    uni = {r["doc_id"]: r["embedding"]
           for r in S.hashed_text_embeddings(docs, dim=64).collect()}
    para_u, perm_u = pairs(uni)
    # unigram: the permutation IS the base — identical integer
    # components (cosine 1 up to float sqrt rounding)
    assert all(uni[i] == uni[2000 + i] for i in range(30))
    assert all(c > 0.999999 for c in perm_u)
    assert max(para_u) < min(perm_u)  # no separating threshold exists

    ng = {r["doc_id"]: r["embedding"]
          for r in S.hashed_text_embeddings(docs, dim=64, ngram=(1, 2)).collect()}
    para_n, perm_n = pairs(ng)
    assert min(para_n) > max(perm_n), (min(para_n), max(perm_n))
    t = (min(para_n) + max(perm_n)) / 2

    out = S.semdedup(
        S.hashed_text_embeddings(docs, dim=64, ngram=(1, 2)),
        threshold=t, n_lists=2, iters=0,
        id_col="doc_id", vec_col="embedding",
    ).collect()
    dropped = {r["id"]: r["witness"] for r in out}
    para_recall = sum(1 for i in range(30) if dropped.get(1000 + i) == i)
    perm_merged = sum(1 for i in range(30) if 2000 + i in dropped)
    assert para_recall == 30 and perm_merged == 0, (para_recall, perm_merged, t)


def test_hembed_ngram_one_is_the_frozen_unigram_law(spark):
    """ngram=1 (the default, and the oracled 'hembed' branch's law) is
    bit-identical to the pre-r12 embedder; bad ngram specs fail fast."""
    import pytest

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    d = S.hashed_text_embeddings(docs, dim=16).collect()[0]["embedding"]
    e = S.hashed_text_embeddings(docs, dim=16, ngram=1).collect()[0]["embedding"]
    assert d == e
    with pytest.raises(ValueError, match="ngram"):
        S.hashed_text_embeddings(docs, dim=16, ngram=(2, 3)).collect()


def test_precollected_qrows_paths_agree(spark, vectors):
    """r15 optimization contract: ivf/pq/ivfpq probes taking a
    precollected ``qrows=`` (collect_query_rows) must return exactly
    the rows of their self-collecting form."""
    q = vectors.filter(F.col("vec_id") < 3)
    qrows = S.collect_query_rows(q)

    assignments, cents = S.ivf_build(vectors, n_lists=4, iters=0)
    a = sorted(map(tuple, S.ivf_search(
        vectors, assignments, cents, q, k=3, nprobe=2).collect()))
    b = sorted(map(tuple, S.ivf_search(
        vectors, assignments, cents, q, k=3, nprobe=2, qrows=qrows).collect()))
    assert a == b and a

    codes, pq_cents = S.pq_build(vectors, m=4, ksub=4, iters=0)
    codes = codes.localCheckpoint(eager=True)
    a = sorted(map(tuple, S.pq_search(codes, pq_cents, q, k=3).collect()))
    b = sorted(map(tuple, S.pq_search(codes, pq_cents, q, k=3, qrows=qrows).collect()))
    assert a == b and a

    indexed = codes.join(assignments, "id")
    a = sorted(map(tuple, S.ivfpq_search(
        indexed, cents, pq_cents, q, k=3, nprobe=2).collect()))
    b = sorted(map(tuple, S.ivfpq_search(
        indexed, cents, pq_cents, q, k=3, nprobe=2, qrows=qrows).collect()))
    assert a == b and a

    # ann_lsh's qrows= path (r15 session 2): the driver-side numpy
    # bucketize must give bit-identical buckets/norms to the worker
    # pass — single- AND multi-probe
    for probes in (1, 3):
        a = sorted(map(tuple, S.ann_lsh(
            vectors, q, k=3, n_probes=probes).collect()))
        b = sorted(map(tuple, S.ann_lsh(
            vectors, q, k=3, n_probes=probes, qrows=qrows).collect()))
        assert a == b and a


def test_pq_probe_single_broadcast_plan(spark):
    """r15 optimization contract: the ADC probe attaches its per-query
    lookup state via ONE broadcast (code-indexed arrays + GetArrayItem),
    not one broadcast lookup join per subspace — a pq_search plan must
    contain exactly one BroadcastExchange (was m+1 = 5 at m=4)."""
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.similarity import pq_build, pq_search
    corpus = make_clustered_vectors(spark, 500, 16, 4, seed=3)
    q = corpus.filter(F.col("vec_id") < 3)
    codes, pq_cents = pq_build(corpus, m=4, ksub=8, iters=0)
    plan = pq_search(codes, pq_cents, q, k=5)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("BroadcastExchange") == 1, plan


def test_ivfpq_fused_build_matches_composed(spark):
    """r15 optimization contract: the iters=0 fused build (one seeds
    collect + one Arrow pass) must produce EXACTLY the composed
    ivf_build + pq_build + join result — same assignments, same codes,
    same centroid matrices — including when a codebook clamps, and with
    keep_vectors."""
    import numpy as np

    from adsb_clickhouse_spark.operators.similarity import (
        _ivfpq_build_fused,
        ivf_build,
        pq_build,
    )
    corpus = make_clustered_vectors(spark, 600, 16, 4, seed=5).persist()
    corpus.count()
    try:
        for n_lists, ksub, keep in ((8, 4, False), (4, 8, True), (2000, 8, False)):
            fused, fc, fpq = _ivfpq_build_fused(
                corpus, n_lists=n_lists, m=4, ksub=ksub,
                keep_vectors=keep, id_col="vec_id", vec_col="embedding",
            )
            a, cc = ivf_build(corpus, n_lists=n_lists, iters=0)
            codes, pc = pq_build(corpus, m=4, ksub=ksub, iters=0)
            composed = codes.join(a, "id")
            assert np.array_equal(fc, cc) and np.array_equal(fpq, pc)
            cols = ["id", "code_0", "code_1", "code_2", "code_3", "list_id"]
            f_rows = sorted(map(tuple, fused.select(*cols).collect()))
            c_rows = sorted(map(tuple, composed.select(*cols).collect()))
            assert f_rows == c_rows and f_rows
            if keep:
                vmap = {r["id"]: r["v"] for r in fused.select("id", "v").collect()}
                src = {r["vec_id"]: [float(x) for x in r["embedding"]]
                       for r in corpus.collect()}
                assert all(vmap[i] == src[i] for i in vmap)
    finally:
        corpus.unpersist()

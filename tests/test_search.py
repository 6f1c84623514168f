"""BM25 search (operators/search.py) vs a pure-Python reference, plus
the stored inverted-index layout: probe == in-memory scores and the
probe scan is partition-pruned to the query's term buckets."""

import math
import re
from collections import Counter

from pyspark.sql import functions as F

from adsb_clickhouse_spark.functions.texttools import TOKEN_RE
from adsb_clickhouse_spark.operators.search import (
    BM25_B,
    BM25_K1,
    bm25_probe_stored,
    bm25_search,
    term_bucket_py,
    write_text_index,
)

CORPUS = [
    (0, "spark shuffle join hash join broadcast join"),
    (1, "hash table build side probe side"),
    (2, "merge sort merge join spill to disk"),
    (3, "window functions rank over partition"),
    (4, "the quick brown fox"),
    (5, "join join join join join join join join"),
    (6, ""),
    (7, None),
    (8, "hash merge window join all four terms here"),
]
QUERY = "join hash merge window"


def _ref_bm25(corpus, query, k1=BM25_K1, b=BM25_B):
    docs = {
        i: re.findall(TOKEN_RE, (t or "").lower()) for i, t in corpus
    }
    docs = {i: t for i, t in docs.items() if t}
    N = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / N
    terms = list(dict.fromkeys(query.split()))
    out = {}
    for i, toks in docs.items():
        tf = Counter(t for t in toks if t in terms)
        if not tf:
            continue
        score = 0.0
        for t, f in tf.items():
            df = sum(1 for d in docs.values() if t in d)
            idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
            score += idf * (
                (f * (k1 + 1.0))
                / (f + k1 * (1.0 - b + b * len(toks) / avgdl))
            )
        out[i] = (len(tf), round(score, 4))
    return out


def test_bm25_matches_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_terms_matched"], r["score"])
        for r in bm25_search(docs, QUERY, k=20).collect()
    }
    assert got == _ref_bm25(CORPUS, QUERY)
    # the doc matching all four query terms outranks the join-spam doc
    rows = bm25_search(docs, QUERY, k=3).collect()
    assert rows[0]["doc_id"] == 8
    assert rows[0]["n_terms_matched"] == 4


def test_bm25_plan_is_broadcast_topk(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    plan = (
        bm25_search(docs, QUERY)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "Window" not in plan


def test_stored_index_probe_matches_and_prunes(spark, tmp_path):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    meta = write_text_index(docs, str(tmp_path), n_buckets=16)
    assert meta["n_docs"] == 7  # empty + NULL docs excluded
    probe = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20)
    want = {
        (r["doc_id"], r["n_terms_matched"], r["score"])
        for r in bm25_search(docs, QUERY, k=20).collect()
    }
    got = {
        (r["doc_id"], r["n_terms_matched"], r["score"]) for r in probe.collect()
    }
    assert got == want
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:200]
    # the scan must touch only the query's buckets, not all 16
    q_buckets = {term_bucket_py(t, 16) for t in QUERY.split()}
    assert len(q_buckets) < 16
    # term-level parquet filter is pushed too
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[1][:300]


def test_unindexed_query_term_is_harmless(spark, tmp_path):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    write_text_index(docs, str(tmp_path), n_buckets=8)
    rows = bm25_probe_stored(spark, str(tmp_path), "join zzzunknown", k=5).collect()
    ref = {r["doc_id"]: r["score"] for r in bm25_search(docs, "join", k=5).collect()}
    assert {r["doc_id"]: r["score"] for r in rows} == ref


def test_rrf_fuse_matches_reference(spark):
    b = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    a = spark.createDataFrame(
        [(3, 1), (4, 2), (1, 3)], "doc_id long, rank int"
    )
    from adsb_clickhouse_spark.operators.search import rrf_fuse

    rows = {r["doc_id"]: r for r in rrf_fuse({"bm25": b, "ann": a}, k=10).collect()}
    # doc 3: rank 3 in bm25, rank 1 in ann
    assert rows[3]["bm25_rank"] == 3 and rows[3]["ann_rank"] == 1
    assert rows[3]["rrf_score"] == round(1.0 / 63 + 1.0 / 61, 6)
    # doc 2 only in bm25; doc 4 only in ann
    assert rows[2]["ann_rank"] is None
    assert rows[2]["rrf_score"] == round(1.0 / 62, 6)
    assert rows[4]["bm25_rank"] is None
    # both-list docs outrank single-list docs here
    order = [r["doc_id"] for r in sorted(rows.values(), key=lambda r: -r["rrf_score"])]
    assert order[0] in (1, 3) and order[1] in (1, 3)


def test_hybrid_search_rrf_runs_and_is_bounded(spark):
    import numpy as np

    from adsb_clickhouse_spark.operators.search import hybrid_search_rrf

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    rng = np.random.RandomState(7)
    embs = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    out = hybrid_search_rrf(docs, embs, QUERY, 0, kb=5, ka=5, k=4)
    rows = out.collect()
    assert 0 < len(rows) <= 4
    assert rows == sorted(rows, key=lambda r: (-r["rrf_score"], r["doc_id"]))
    # every row carries at least one leg's rank
    assert all(
        r["bm25_rank"] is not None or r["ann_rank"] is not None for r in rows
    )


def _all_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_append_then_probe_sees_global_stats(spark, tmp_path):
    base = CORPUS[:5]
    extra = [(20, "join hash window merge join"), (21, "merge window tables")]
    write_text_index(_all_docs(spark, base), str(tmp_path), n_buckets=16)
    from adsb_clickhouse_spark.operators.search import append_text_index

    append_text_index(_all_docs(spark, extra), str(tmp_path), "b0001")
    got = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    want = bm25_search(_all_docs(spark, base + extra), QUERY, k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_append_replay_converges(spark, tmp_path):
    from adsb_clickhouse_spark.operators.search import append_text_index

    write_text_index(_all_docs(spark, CORPUS[:4]), str(tmp_path), n_buckets=8)
    extra = [(30, "join join hash")]
    append_text_index(_all_docs(spark, extra), str(tmp_path), "b0001")
    once = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    # a crashed-and-replayed batch rewrites the SAME segment name
    append_text_index(_all_docs(spark, extra), str(tmp_path), "b0001")
    twice = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    assert [tuple(r) for r in once] == [tuple(r) for r in twice]


def test_compact_folds_segments_and_preserves_scores(spark, tmp_path):
    import os

    from adsb_clickhouse_spark.operators.search import (
        append_text_index,
        compact_text_index,
    )

    base = CORPUS[:5]
    write_text_index(_all_docs(spark, base), str(tmp_path), n_buckets=8)
    for i, rows in enumerate(
        ([(40, "join hash probes")], [(41, "merge window spill")],
         [(42, "hash hash join")])
    ):
        append_text_index(_all_docs(spark, rows), str(tmp_path), f"b{i:04d}")
    before = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    res = compact_text_index(spark, str(tmp_path))
    assert res["folded_segments"] == 3
    after = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    # folded segments retired (r14 reader grace window): invisible to
    # the live listing at once, physically GC'd once the grace expires
    from adsb_clickhouse_spark.plans import genstore as G

    assert G.live_segments(str(tmp_path)) == []
    G.sweep_retired(str(tmp_path), grace_s=0.0)
    assert os.listdir(str(tmp_path / "segments")) == []
    gens = [e for e in os.listdir(str(tmp_path)) if e.startswith("gen-")]
    assert len(gens) == 1
    # idempotent when there is nothing to fold
    assert compact_text_index(spark, str(tmp_path))["folded_segments"] == 0


def test_interrupted_compact_never_double_counts(spark, tmp_path):
    """A folded segment still on disk after the pointer swap must stay
    invisible to probes — the _FOLDED manifest, not the GC, carries
    correctness. Since r14 this is the DEFAULT post-compaction state
    (the reader grace window defers the segment's delete), so the test
    simply probes across it; the expired-grace sweep is covered too."""
    import os

    from adsb_clickhouse_spark.operators.search import (
        append_text_index,
        compact_text_index,
    )
    from adsb_clickhouse_spark.plans import genstore as G

    write_text_index(_all_docs(spark, CORPUS[:5]), str(tmp_path), n_buckets=8)
    seg_rows = [(50, "join merge hash window")]
    append_text_index(_all_docs(spark, seg_rows), str(tmp_path), "b0001")
    want = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    compact_text_index(spark, str(tmp_path))
    # the folded segment is STILL on disk (grace window) — and must not
    # double-count: the manifest excludes it from the probe's parts
    assert os.path.isdir(str(tmp_path / "segments" / "b0001"))
    got = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    assert [tuple(r) for r in want] == [tuple(r) for r in got]
    # after the grace expires the sweep removes it; scores unchanged
    G.sweep_retired(str(tmp_path), grace_s=0.0)
    assert not os.path.isdir(str(tmp_path / "segments" / "b0001"))
    got2 = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    assert [tuple(r) for r in want] == [tuple(r) for r in got2]


def _ref_phrase(corpus, phrase):
    terms = phrase.split()
    out = {}
    for i, t in corpus:
        toks = re.findall(TOKEN_RE, (t or "").lower())
        n = sum(
            1
            for s in range(len(toks) - len(terms) + 1)
            if toks[s : s + len(terms)] == terms
        )
        if n:
            out[i] = n
    return out


PHRASE_CORPUS = [
    (0, "hash join hash join hash join"),       # 3 matches
    (1, "a hash and a join but never adjacent"),
    (2, "join hash"),                            # reversed: no match
    (3, "hash hash join join"),                  # 1 match
    (4, "aaa aaa aaa aaa"),                      # overlap corpus for 'aaa aaa'
    (5, None),
    (6, "x hash join"),                          # 1 match
]


def test_phrase_search_matches_reference(spark):
    from adsb_clickhouse_spark.operators.search import phrase_search

    docs = spark.createDataFrame(PHRASE_CORPUS, "doc_id long, text string")
    for ph in ("hash join", "aaa aaa", "aaa aaa aaa", "hash hash join"):
        got = {
            r["doc_id"]: r["n_matches"]
            for r in phrase_search(docs, ph, k=50).collect()
        }
        assert got == _ref_phrase(PHRASE_CORPUS, ph), ph
    # repeated-term phrase: overlapping starts both count ('aaa aaa' in
    # a run of 4 -> 3 starts), matching the reference scan
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search(docs, "aaa aaa", k=50).collect()
    }
    assert got[4] == 3


def test_phrase_probe_stored_positional(spark, tmp_path):
    from adsb_clickhouse_spark.operators.search import (
        append_text_index,
        compact_text_index,
        phrase_probe_stored,
        phrase_search,
        write_text_index,
    )

    docs = spark.createDataFrame(PHRASE_CORPUS, "doc_id long, text string")
    write_text_index(docs, str(tmp_path), n_buckets=16, with_positions=True)
    extra = [(10, "hash join again hash join")]
    append_text_index(
        spark.createDataFrame(extra, "doc_id long, text string"),
        str(tmp_path),
        "b0001",
    )
    want = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search(
            spark.createDataFrame(PHRASE_CORPUS + extra, "doc_id long, text string"),
            "hash join",
            k=50,
        ).collect()
    }
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_probe_stored(spark, str(tmp_path), "hash join", k=50).collect()
    }
    assert got == want and got[10] == 2
    # pruning pinned on the positional layout too
    probe = phrase_probe_stored(spark, str(tmp_path), "hash join", k=50)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:200]
    # positions survive compaction
    compact_text_index(spark, str(tmp_path))
    after = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_probe_stored(spark, str(tmp_path), "hash join", k=50).collect()
    }
    assert after == want


def test_phrase_probe_requires_positions(spark, tmp_path):
    import pytest as _pytest

    from adsb_clickhouse_spark.operators.search import phrase_probe_stored

    docs = spark.createDataFrame(PHRASE_CORPUS, "doc_id long, text string")
    write_text_index(docs, str(tmp_path), n_buckets=8)  # no positions
    with _pytest.raises(RuntimeError, match="positions"):
        phrase_probe_stored(spark, str(tmp_path), "hash join").collect()


def test_compact_gcs_orphan_generations(spark, tmp_path):
    """A compaction that crashed before its pointer swap leaves an
    unreferenced gen-* dir; the next compaction removes it."""
    import os

    from adsb_clickhouse_spark.operators.search import (
        append_text_index,
        compact_text_index,
    )

    write_text_index(_all_docs(spark, CORPUS[:4]), str(tmp_path), n_buckets=8)
    append_text_index(
        _all_docs(spark, [(60, "join hash orphan test")]), str(tmp_path), "b0001"
    )
    orphan = str(tmp_path / "gen-deadbeef")
    os.makedirs(orphan)
    want = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    compact_text_index(spark, str(tmp_path))
    assert not os.path.exists(orphan)
    got = bm25_probe_stored(spark, str(tmp_path), QUERY, k=20).collect()
    assert [tuple(r) for r in want] == [tuple(r) for r in got]


def test_mmr_rerank_demotes_near_duplicates(spark):
    import numpy as np

    from adsb_clickhouse_spark.operators.search import mmr_rerank

    # candidates: doc 0 most relevant; doc 1 = near-copy of doc 0's
    # embedding with slightly lower relevance; doc 2 = novel direction,
    # lower relevance still. MMR must pick 0, then 2, then 1.
    cands = spark.createDataFrame(
        [(0, 10.0), (1, 9.0), (2, 8.0)], "doc_id long, score double"
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = mmr_rerank(cands, embs, k=3, lam=0.5).collect()
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["mmr_rank"])] == [0, 2, 1]
    # lambda=1 reduces to pure relevance order
    rows = mmr_rerank(cands, embs, k=3, lam=1.0).collect()
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["mmr_rank"])] == [0, 1, 2]


def test_mmr_rerank_is_bounded_by_contract(spark):
    import pytest as _pytest

    from adsb_clickhouse_spark.operators.search import mmr_rerank

    cands = spark.range(50).selectExpr("id AS doc_id", "CAST(id AS DOUBLE) AS score")
    embs = spark.range(50).selectExpr(
        "id AS vec_id", "array(CAST(id AS DOUBLE), 1.0) AS embedding"
    )
    with _pytest.raises(ValueError, match="bounded shortlist"):
        mmr_rerank(cands, embs, k=5, max_candidates=10)
    out = mmr_rerank(cands, embs, k=5, max_candidates=100).collect()
    assert len(out) == 5 and out[0]["rel"] == 49.0


# ------------------------------------------------------------ retrieval eval


def _eval_df(spark, docs, queries, **kw):
    from adsb_clickhouse_spark.operators.search import retrieval_eval

    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = retrieval_eval(d, queries, **kw).collect()
    return {r["query_id"]: r for r in out}


def test_retrieval_eval_hand_computed(spark):
    """3 docs, one query 'cat dog', threshold 2, cap 6, k 2.
    rel: d1 = min(2+1, 6)=3, d2 = min(1,6)=1 (<thr), d3 = min(2+2,6)=4.
    relevant = {d1 (rel 3), d3 (rel 4)} -> n_rel 2, ideal = [d3, d1].
    BM25 ranks d1 vs d3 by tf/length; with k=2 both relevant docs are
    in the top-2 either way -> recall 1.0, mrr 1.0; ndcg depends on
    whether BM25 agrees with the ideal (it ranks d3 first: higher tf,
    shorter) -> dcg == idcg -> 1.0."""
    docs = [
        (1, "cat cat dog fish"),
        (2, "dog bird bird bird"),
        (3, "cat cat dog dog"),
    ]
    m = _eval_df(spark, docs, {"q": "cat dog"}, k=2, rel_threshold=2, rel_cap=6)
    r = m["q"]
    assert r["n_rel"] == 2
    assert r["recall_at_k"] == 1.0
    assert r["mrr"] == 1.0
    assert r["ndcg"] == 1.0


def test_retrieval_eval_imperfect_ranking_ndcg_below_one(spark):
    """A long spammy doc holds max graded rel (capped Σtf) but BM25's
    length normalization ranks a short doc above it -> the realized
    DCG ordering differs from the ideal and nDCG < 1."""
    docs = [
        (1, "cat dog " * 3 + "x y z " * 60),  # rel capped, long -> low BM25
        (2, "cat dog"),                        # rel 2, short -> high BM25
        (3, "bird"),
    ]
    m = _eval_df(spark, docs, {"q": "cat dog"}, k=2, rel_threshold=2, rel_cap=4)
    r = m["q"]
    assert r["n_rel"] == 2 and r["recall_at_k"] == 1.0
    assert r["mrr"] == 1.0  # top-1 (doc 2) is relevant
    assert 0.0 < r["ndcg"] < 1.0


def test_retrieval_eval_no_relevant_docs_zero_metrics(spark):
    docs = [(1, "cat"), (2, "dog")]  # one occurrence each < threshold
    m = _eval_df(spark, docs, {"q": "cat dog"}, k=5, rel_threshold=3)
    r = m["q"]
    assert r["n_rel"] == 0
    assert r["recall_at_k"] == 0.0 and r["mrr"] == 0.0 and r["ndcg"] == 0.0


def test_retrieval_eval_mrr_counts_first_relevant_rank(spark):
    """Two short sub-threshold docs outrank the only relevant doc by
    BM25 length normalization (tf saturation: doubled tf in a 4x longer
    doc scores lower per term) -> first relevant lands at rank 3 and
    mrr = round(1/3, 6)."""
    docs = [
        (1, "cat dog"),                     # Σtf 2 < thr, short, high BM25
        (2, "cat dog"),
        (3, "cat cat dog dog x x x x"),     # Σtf 4 = relevant, diluted
    ]
    m = _eval_df(spark, docs, {"q": "cat dog"}, k=3, rel_threshold=4)
    r = m["q"]
    assert r["n_rel"] == 1 and r["recall_at_k"] == 1.0
    assert r["mrr"] == round(1.0 / 3.0, 6)


def test_retrieval_eval_multi_query_independent(spark):
    """Metrics for one query are unaffected by adding another query."""
    docs = [(1, "cat cat dog dog"), (2, "dog dog bird bird"), (3, "fish")]
    solo = _eval_df(spark, docs, {"qa": "cat dog"}, k=2, rel_threshold=2)
    both = _eval_df(
        spark, docs, {"qa": "cat dog", "qb": "bird fish"}, k=2, rel_threshold=2
    )
    for f in ("n_rel", "recall_at_k", "mrr", "ndcg"):
        assert solo["qa"][f] == both["qa"][f]
    assert set(both) == {"qa", "qb"}


def test_retrieval_eval_rejects_empty_inputs(spark):
    import pytest as _pytest

    from adsb_clickhouse_spark.operators.search import retrieval_eval

    d = spark.createDataFrame([(1, "cat")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="non-empty"):
        retrieval_eval(d, {})
    with _pytest.raises(ValueError, match="no tokens"):
        retrieval_eval(d, {"q": "!!!"})

def test_retrieval_eval_two_stage_topk_plan(spark):
    """The per-query rankings must execute as two-stage top-k: Spark's
    InferWindowGroupLimit gives Partial -> Exchange -> Final
    WindowGroupLimit, pruning every upstream partition to k rows
    MAP-SIDE before the per-query exchange, so no task ever holds a
    corpus-sized candidate set for a saturating query. Pin it so an
    expression change that defeats the rule fails loudly."""
    from adsb_clickhouse_spark.operators.search import retrieval_eval

    d = spark.createDataFrame(
        [(i, "cat dog fish") for i in range(20)], "doc_id long, text string"
    )
    df = retrieval_eval(d, {"q1": "cat dog"}, k=3, rel_threshold=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    partials = [ln for ln in plan.splitlines()
                if "WindowGroupLimit" in ln and "Partial" in ln]
    assert partials, "map-side (Partial) WindowGroupLimit missing"
    # and the saturating-query result itself: every doc matches both
    # terms (rel = 2 >= threshold), so n_rel = corpus and recall@3 = 3/20
    row = df.collect()[0]
    assert row["n_rel"] == 20 and row["recall_at_k"] == 0.15
    assert 0.0 < row["ndcg"] <= 1.0 and row["mrr"] == 1.0


def test_replayed_segment_with_legacy_stats_file_does_not_double_count(
    spark, tmp_path
):
    """r13 review: the driver-side stats writer uses a FIXED file name;
    a replayed segment whose previous attempt wrote stats under another
    name (the pre-r13 Spark writer) must end up with ONE stats row —
    probes SUM all rows, so a leftover would double n_docs/sum_dl."""
    import os
    import shutil

    from adsb_clickhouse_spark.operators.search import (
        append_text_index,
        bm25_probe_stored,
        init_text_index,
    )

    path = str(tmp_path / "idx")
    info = init_text_index(spark, path, n_buckets=8)
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma") for i in range(20)],
        "doc_id long, text string",
    )
    law = (info["n_buckets"], info["positional"])
    append_text_index(docs, path, "b0", law=law, return_stats=False)
    stats_dir = os.path.join(path, "segments", "b0", "stats")
    # plant a pre-upgrade leftover: same row, Spark-style unique name
    shutil.copy(
        os.path.join(stats_dir, "part-00000.parquet"),
        os.path.join(stats_dir, "part-00000-deadbeef.snappy.parquet"),
    )
    assert spark.read.parquet(stats_dir).count() == 2  # the hazard
    # the replay must clear the dir before writing its own stats
    append_text_index(docs, path, "b0", law=law, return_stats=False)
    rows = spark.read.parquet(stats_dir).collect()
    assert len(rows) == 1 and rows[0]["n_docs"] == 20
    # scores are sane (idf computed from N=20, not 40)
    hits = bm25_probe_stored(spark, path, "alpha w3", k=1).collect()
    assert hits and hits[0]["doc_id"] == 3


# ------------------------------------------------- r15 shared-subtree parity


def test_shared_tokenized_and_scored_paths_agree(spark):
    """r15 optimization contract: every operator that grew a
    ``tokenized=``/``scored=`` fast path must return EXACTLY the rows
    of its self-tokenizing form — the shared frame is the same
    expression over the same subtree, so any divergence is a bug."""
    from adsb_clickhouse_spark.operators.search import (
        bm25_scores,
        phrase_search,
        retrieval_eval,
        tokenize_docs,
    )

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    tok = tokenize_docs(docs).localCheckpoint(eager=False)

    plain = {r["doc_id"]: (r["n_terms_matched"], r["score"])
             for r in bm25_search(docs, QUERY, k=20).collect()}
    shared = {r["doc_id"]: (r["n_terms_matched"], r["score"])
              for r in bm25_search(docs, QUERY, k=20, tokenized=tok).collect()}
    scored = bm25_scores(docs, QUERY, tokenized=tok)
    precomputed = {r["doc_id"]: (r["n_terms_matched"], r["score"])
                   for r in bm25_search(docs, QUERY, k=20, scored=scored).collect()}
    assert plain == shared == precomputed

    ph = "join hash"
    p_plain = {r["doc_id"]: r["n_matches"]
               for r in phrase_search(docs, ph, k=20).collect()}
    p_shared = {r["doc_id"]: r["n_matches"]
                for r in phrase_search(docs, ph, k=20, tokenized=tok).collect()}
    assert p_plain == p_shared

    queries = {"q1": QUERY, "q2": "hash table probe"}
    e_plain = {r["query_id"]: (r["n_rel"], r["recall_at_k"], r["mrr"], r["ndcg"])
               for r in retrieval_eval(docs, queries, k=5).collect()}
    e_shared = {r["query_id"]: (r["n_rel"], r["recall_at_k"], r["mrr"], r["ndcg"])
                for r in retrieval_eval(docs, queries, k=5, tokenized=tok).collect()}
    assert e_plain == e_shared


def test_shared_union_tfs_paths_agree(spark):
    """r15 optimization contract (the tfs= fast path): bm25_scores and
    retrieval_eval restricted to their own terms from ONE superset
    doc_term_freqs frame must return EXACTLY the rows of their
    self-building forms — the term filter commutes with the
    (doc, term)-keyed aggregation, so any divergence is a bug."""
    from adsb_clickhouse_spark.operators.search import (
        _query_terms,
        bm25_scores,
        doc_term_freqs,
        retrieval_eval,
        tokenize_docs,
    )

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    tok = tokenize_docs(docs).localCheckpoint(eager=False)
    queries = {"q1": QUERY, "q2": "hash table probe", "q3": "fox rank"}
    union_terms = sorted(
        set(_query_terms(QUERY))
        | {t for q in queries.values() for t in _query_terms(q)}
    )
    tfs_all = doc_term_freqs(docs, terms=union_terms, tokenized=tok)

    plain = {r["doc_id"]: (r["n_terms_matched"], r["score"])
             for r in bm25_scores(docs, QUERY).collect()}
    shared = {r["doc_id"]: (r["n_terms_matched"], r["score"])
              for r in bm25_scores(docs, QUERY, tokenized=tok, tfs=tfs_all).collect()}
    assert plain == shared

    e_plain = {r["query_id"]: (r["n_rel"], r["recall_at_k"], r["mrr"], r["ndcg"])
               for r in retrieval_eval(docs, queries, k=5).collect()}
    e_shared = {r["query_id"]: (r["n_rel"], r["recall_at_k"], r["mrr"], r["ndcg"])
                for r in retrieval_eval(docs, queries, k=5, tokenized=tok,
                                        tfs=tfs_all).collect()}
    assert e_plain == e_shared

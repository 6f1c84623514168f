"""Streaming curation ingest (streaming/curation.py): cross-batch exact
dedup memory, replay idempotence, policy filters, and a readStream
smoke through the file-source twin."""

import pytest

from pyspark.sql import functions as F

from adsb_clickhouse_spark.streaming.curation import CurationIngest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _age_and_sweep_keyed(ing, spark, path):
    """r14 reader grace window: folded keyed-store segments are RETIRED
    (present on disk, excluded from probes/folds) for GEN_GC_GRACE_S.
    Tests that assert the physical delete age the manifest out and
    sweep explicitly."""
    from adsb_clickhouse_spark.plans import genstore as G

    entries = G.read_retire_manifest(path, ing._io)
    G.write_retire_manifest(path, [(0.0, p) for _t, p in entries], ing._io)
    ing._sweep_keyed_retired(spark, path)


def test_within_and_cross_batch_exact_dedup(spark, tmp_path):
    ing = CurationIngest(str(tmp_path), run_id="r1")
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b = "completely different content about spark query engines and shuffle plans"
    c = "a third document that only ever appears in the second batch of the feed"
    # batch 0: a, its in-batch dup, and b
    ing.process_batch(_docs(spark, [(0, a), (1, a), (2, b)]), batch_id=0)
    kept0 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept0 == {0, 2}  # in-batch dup keeps the lowest id
    # batch 1: a again (cross-batch dup) plus new c
    ing.process_batch(_docs(spark, [(3, a), (4, c)]), batch_id=1)
    kept1 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept1 == {0, 2, 4}  # 3 suppressed by the fingerprint store


def test_replayed_batch_is_idempotent(spark, tmp_path):
    ing = CurationIngest(str(tmp_path), run_id="r1")
    a = "some document text that is long enough to pass every default filter"
    b = "another document body with its own words and no duplication at all"
    ing.process_batch(_docs(spark, [(0, a)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, b)]), batch_id=1)
    # replay batch 1 (foreachBatch redelivery after a crash)
    ing.process_batch(_docs(spark, [(1, b)]), batch_id=1)
    rows = ing.curated(spark).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in rows) == [0, 1]
    # the fingerprint store converged too: one fingerprint per kept doc
    fps = ing.read_fingerprints(spark)
    assert fps.count() == 2


def test_policy_filters_and_redaction(spark, tmp_path):
    ing = CurationIngest(str(tmp_path), min_quality=0.1, drop_pii_docs=True, run_id="r1")
    good = "the quick brown fox jumps over the lazy dog and keeps on running far"
    pii = "contact me at someone@example.com for all of the details of the plan"
    ing.process_batch(_docs(spark, [(0, good), (1, pii), (2, None)]), batch_id=0)
    out = ing.curated(spark)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == {0}  # PII doc dropped by policy; NULL text scores 0
    # kept rows carry the redacted text column
    assert out.filter(F.col("clean_text").contains("@")).count() == 0


def test_streaming_smoke_file_source(spark, tmp_path):
    """End-to-end readStream → foreachBatch: two file drops, second
    re-sends an already-kept text; the curated table sees it once."""
    import json
    import os
    import time

    src = tmp_path / "in"
    src.mkdir()
    a = "streaming document alpha with enough words to be its own fingerprint"
    b = "streaming document beta carrying an entirely different body of text"
    with open(src / "drop1.json", "w") as f:
        f.write(json.dumps({"doc_id": 0, "text": a}) + "\n")

    ing = CurationIngest(str(tmp_path / "out"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = ing.start(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        with open(src / "drop2.json", "w") as f:
            f.write(json.dumps({"doc_id": 1, "text": a}) + "\n")
            f.write(json.dumps({"doc_id": 2, "text": b}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(
        r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()
    )
    assert kept == [0, 2]


def test_streaming_split_assignment_matches_batch_operator(spark, tmp_path):
    """With assign_splits=True every curated row carries a split that
    EQUALS the batch operator's exact-mode assignment for the same text
    — across different batches (the split is a pure function of the
    fingerprint, so streaming needs no state to stay consistent)."""
    from adsb_clickhouse_spark.operators.curation import dedup_aware_split
    from adsb_clickhouse_spark.streaming.curation import CurationIngest

    ing = CurationIngest(str(tmp_path / "cur"), assign_splits=True)
    rows1 = [(i, f"batch one document number {i} with words") for i in range(30)]
    rows2 = [(100 + i, f"batch two document number {i} and tail") for i in range(30)]
    ing.process_batch(
        spark.createDataFrame(rows1, "doc_id long, text string"), batch_id=0
    )
    ing.process_batch(
        spark.createDataFrame(rows2, "doc_id long, text string"), batch_id=1
    )
    out = ing.curated(spark)
    got = {r["doc_id"]: (r["split_bucket"], r["split"]) for r in out.collect()}
    assert len(got) == 60
    # batch-operator assignment over the SAME clean texts must agree
    ref_in = out.select("doc_id", F.col("clean_text").alias("text"))
    ref = {
        r["doc_id"]: (r["split_bucket"], r["split"])
        for r in dedup_aware_split(ref_in).collect()
    }
    assert got == ref


# -- store lifecycle (round 7) -------------------------------------------


def test_fingerprint_store_bootstrap_and_corruption(spark, tmp_path):
    """Bootstrap states read as None; a corrupted store FAILS the batch
    instead of silently disabling cross-batch dedup (r6 advice)."""
    import os

    ing = CurationIngest(str(tmp_path))
    assert ing.read_fingerprints(spark) is None  # no store dir yet
    a = "first document body long enough to clear the default policy gate"
    ing.process_batch(_docs(spark, [(0, a)]), batch_id=0)
    assert ing.read_fingerprints(spark).count() == 1
    # truncate the one parquet file in the store -> next batch must raise
    seg = [e for e in os.listdir(ing.fps_path) if e.startswith("batch_id=")][0]
    seg_dir = os.path.join(ing.fps_path, seg)
    pq = [e for e in os.listdir(seg_dir) if e.endswith(".parquet")][0]
    with open(os.path.join(seg_dir, pq), "r+b") as fh:
        fh.truncate(7)  # keep a few magic bytes, destroy the footer
    with pytest.raises(Exception):
        ing.process_batch(
            _docs(spark, [(1, "another doc that now cannot be checked")]),
            batch_id=1,
        )


def test_dangling_store_pointer_raises(spark, tmp_path):
    import os

    ing = CurationIngest(str(tmp_path))
    a = "document text for the pointer test with plenty of filler words here"
    ing.process_batch(_docs(spark, [(0, a)]), batch_id=0)
    with open(os.path.join(ing.fps_path, "_STORE"), "w") as fh:
        fh.write("no_such_table_anywhere")
    with pytest.raises(RuntimeError, match="missing table"):
        ing.read_fingerprints(spark)


def test_fingerprint_compaction_bucketed_store(spark, tmp_path):
    """compact_fingerprints folds committed segments into a bucketed
    catalog table: segments disappear, dedup memory survives, and the
    per-batch anti-join co-locates on the store side — exactly ONE
    Exchange (the small batch side) in the join plan, with the store
    scan bucketed."""
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1")
    texts = [f"unique streaming document number {i} with enough words" for i in range(6)]
    ing.process_batch(_docs(spark, list(enumerate(texts[:3]))), batch_id=0)
    ing.process_batch(
        _docs(spark, [(10 + i, t) for i, t in enumerate(texts[3:])]), batch_id=1
    )
    stats = ing.compact_fingerprints(spark, buckets=8)
    try:
        assert stats["folded_segments"] == 2
        # folded segments are retired-in-grace (r14): excluded from the
        # store parts at once, physically deleted once aged
        retired = ing._retired_paths(ing.fps_path)
        assert all(
            os.path.join(ing.fps_path, e) in retired
            for e in os.listdir(ing.fps_path)
            if e.startswith("batch_id=")
        )
        _age_and_sweep_keyed(ing, spark, ing.fps_path)
        assert not [
            e for e in os.listdir(ing.fps_path) if e.startswith("batch_id=")
        ]
        parts = ing.fingerprint_store_parts(spark)
        assert len(parts) == 1 and parts[0].count() == 6
        # plan: anti-join against the bucketed store shuffles ONLY the
        # batch side (store-side scan reads matching buckets in place)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            batch = _docs(spark, [(99, "probe doc")]).select(
                F.md5("text").alias("fingerprint"), "doc_id"
            )
            j = batch.join(parts[0], "fingerprint", "left_anti")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert plan.count("Exchange") == 1
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
        # cross-batch dedup still works across the compaction boundary
        ing.process_batch(
            _docs(spark, [(20, texts[0]), (21, "a genuinely new document body")]),
            batch_id=2,
        )
        kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
        assert 20 not in kept and 21 in kept
        # second compaction folds the new segment into the next generation
        stats2 = ing.compact_fingerprints(spark, buckets=8)
        assert stats2["folded_segments"] == 1
        assert ing.read_fingerprints(spark).count() == 7
    finally:
        tbl = ing._store_table_name()
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_replay_after_compaction_is_noop_not_data_loss(spark, tmp_path):
    """A committed batch redelivered AFTER its fingerprints were folded
    into the compacted store must no-op (commit marker), not
    clear-and-rewrite — the rewrite would be suppressed by its own
    fingerprints and the rows lost."""
    ing = CurationIngest(str(tmp_path), run_id="r1")
    a = "replay safety document with a sufficiently long body of words here"
    batch = _docs(spark, [(0, a)])
    ing.process_batch(batch, batch_id=0)
    ing.compact_fingerprints(spark, buckets=4)
    try:
        ing.process_batch(batch, batch_id=0)  # foreachBatch redelivery
        rows = ing.curated(spark).select("doc_id").collect()
        assert [r["doc_id"] for r in rows] == [0]
        assert ing.read_fingerprints(spark).count() == 1
    finally:
        tbl = ing._store_table_name()
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compaction_skips_uncommitted_segments(spark, tmp_path):
    """A segment without a commit marker (crashed attempt the stream
    will replay) is never folded — folding would freeze a partial write
    into the compacted store."""
    import os
    import shutil

    ing = CurationIngest(str(tmp_path), run_id="r1")
    a = "committed document one with plenty of words to pass the filters"
    b = "uncommitted document two with its own distinct body of words"
    ing.process_batch(_docs(spark, [(0, a)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, b)]), batch_id=1)
    # simulate batch 1 having crashed before its commit marker
    os.unlink(ing._marker("br1-1"))
    stats = ing.compact_fingerprints(spark, buckets=4)
    try:
        assert stats["folded_segments"] == 1
        assert stats["skipped_uncommitted"] == 1
        _age_and_sweep_keyed(ing, spark, ing.fps_path)
        left = [e for e in os.listdir(ing.fps_path) if e.startswith("batch_id=")]
        assert left == ["batch_id=br1-1"]
        # the replay of the uncommitted batch still clears-and-rewrites
        ing.process_batch(_docs(spark, [(1, b)]), batch_id=1)
        kept = sorted(
            r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()
        )
        assert kept == [0, 1]
    finally:
        tbl = ing._store_table_name()
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_near_dup_compaction_collapses_cross_batch_boilerplate(spark, tmp_path):
    """Near-dup (NOT byte-identical) boilerplate arriving across many
    batches passes the exact fingerprint store, but the periodic
    compact_curated pass collapses it: one survivor (lowest doc_id) per
    near-dup cluster, folded segments excluded from readers and GC'd,
    and the fingerprint memory still suppresses byte-identical copies
    of dropped docs afterwards."""
    import os

    base = (
        "the standard legal boilerplate paragraph that every scraped page "
        "carries with the usual words about cookies and consent and rights "
        "reserved in every jurisdiction variant"
    )
    ing = CurationIngest(str(tmp_path), run_id="r1")
    # three batches, each with a slightly different copy of the template
    # (one word differs -> near-dup, distinct md5) plus one unique doc
    for i in range(3):
        variant = base.replace("jurisdiction", f"jurisdiction{i}")
        uniq = f"batch {i} unique content entirely unrelated to the template body"
        ing.process_batch(
            _docs(spark, [(10 * i, variant), (10 * i + 1, uniq)]), batch_id=i
        )
    assert ing.curated(spark).count() == 6  # exact store can't see near-dups
    stats = ing.compact_curated(spark, threshold=0.5)
    assert stats["folded_segments"] == 3
    assert stats["dropped_docs"] == 2  # docs 10 and 20; doc 0 survives
    kept = sorted(r["doc_id"] for r in ing.curated(spark).select("doc_id").collect())
    assert kept == [0, 1, 11, 21]
    # r14 (reader grace window): folded segment dirs survive the fold
    # on disk for in-flight readers, but exactly one nearcompact
    # segment is LIVE (the manifests exclude the retirees); an aged
    # sweep then removes them physically too
    live = ing._live_curated_entries()
    assert len(live) == 1 and "nearcompact-" in live[0]
    from adsb_clickhouse_spark.plans import genstore as G

    G.sweep_retired(
        ing.curated_path,
        grace_s=0.0,
        part_dir=os.path.join(ing.curated_path, live[0]),
    )
    segs = [e for e in os.listdir(ing.curated_path) if e.startswith("batch_id=")]
    assert len(segs) == 1 and "nearcompact-" in segs[0]
    # a byte-identical copy of a DROPPED doc is still suppressed: its
    # exact fingerprint stayed in the store
    dropped_variant = base.replace("jurisdiction", "jurisdiction1")
    ing.process_batch(
        _docs(
            spark,
            [(99, dropped_variant), (100, "a genuinely fresh post-compaction doc")],
        ),
        batch_id=3,
    )
    kept2 = sorted(r["doc_id"] for r in ing.curated(spark).select("doc_id").collect())
    assert kept2 == [0, 1, 11, 21, 100]
    # a second compaction folds the nearcompact segment + the new segment
    stats2 = ing.compact_curated(spark, threshold=0.5)
    assert stats2["folded_segments"] == 2
    assert ing.curated(spark).count() == 5


def test_lagging_gc_cannot_resurrect_folded_segments(spark, tmp_path):
    """_FOLDED manifests are transitive: if a compaction's directory GC
    crashed (folded dir left on disk) and a LATER compaction folds the
    compact segment whose manifest excluded it, the orphan must stay
    excluded — its name is carried forward in the new manifest."""
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1")
    a = "document alpha with a full body of words for the funnel to keep"
    b = "document beta carrying its own completely different body of text"
    ing.process_batch(_docs(spark, [(0, a)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, b)]), batch_id=1)
    ing.compact_curated(spark, threshold=0.5)
    assert ing.curated(spark).count() == 2
    # simulate the first compaction's GC having crashed: a stale copy of
    # the folded segment batch_id=br1-0 reappears on disk
    zombie = os.path.join(ing.curated_path, "batch_id=br1-0")
    ing.curated(spark).filter(F.col("doc_id") == 0).drop("batch_id").write.mode(
        "overwrite"
    ).parquet(zombie)
    assert ing.curated(spark).count() == 2  # manifest still excludes it
    # a new batch + second compaction folds the compact segment away —
    # the transitive manifest must keep excluding the zombie
    c = "document gamma which arrives after the first compaction happened"
    ing.process_batch(_docs(spark, [(2, c)]), batch_id=2)
    ing.compact_curated(spark, threshold=0.5)
    kept = sorted(r["doc_id"] for r in ing.curated(spark).select("doc_id").collect())
    assert kept == [0, 1, 2]  # doc 0 exactly once — no resurrection


def test_text_index_accretes_with_batches_and_replay_converges(spark, tmp_path):
    """text_index=True: each batch's survivors become a searchable
    index segment; cross-batch-suppressed dups never enter the index;
    a replayed batch converges; compaction preserves results."""
    from adsb_clickhouse_spark.operators.search import bm25_search

    ing = CurationIngest(str(tmp_path), run_id="r1", text_index=True,
                         text_index_buckets=8)
    a = "spark shuffle plans and broadcast joins explained for query engines"
    b = "a totally different story about rivers and forests and quiet rain"
    c = "more spark content about shuffle boundaries and adaptive query plans"
    ing.process_batch(_docs(spark, [(0, a), (1, b)]), batch_id=0)
    ing.process_batch(_docs(spark, [(2, a), (3, c)]), batch_id=1)  # 2 = dup

    got = {r["doc_id"]: r["score"] for r in ing.search(spark, "spark shuffle", k=10).collect()}
    # the index content equals the curated corpus: bm25 over kept docs
    kept = ing.curated(spark).select("doc_id", F.col("clean_text").alias("text"))
    want = {r["doc_id"]: r["score"] for r in bm25_search(kept, "spark shuffle", k=10).collect()}
    assert got == want and set(got) == {0, 3}  # dup doc 2 never indexed

    # replay batch 1: segment overwritten, results identical
    ing.process_batch(_docs(spark, [(2, a), (3, c)]), batch_id=1)
    again = {r["doc_id"]: r["score"] for r in ing.search(spark, "spark shuffle", k=10).collect()}
    assert again == got

    # maintenance folds the segments; scores survive byte-identically
    res = ing.compact_text_index(spark)
    assert res["folded_segments"] >= 1
    after = {r["doc_id"]: r["score"] for r in ing.search(spark, "spark shuffle", k=10).collect()}
    assert after == got


def test_text_index_empty_bootstrap_and_empty_batch(spark, tmp_path):
    """Probing a freshly-bootstrapped index returns empty (not an
    error), and a batch whose survivors are all suppressed writes an
    empty segment that later probes and compactions tolerate."""
    from adsb_clickhouse_spark.operators.search import init_text_index

    ing = CurationIngest(str(tmp_path), run_id="r1", text_index=True,
                         text_index_buckets=8)
    init_text_index(spark, ing.index_path, n_buckets=8)
    assert ing.search(spark, "anything").collect() == []
    a = "one single document that will be the only content of this whole feed"
    ing.process_batch(_docs(spark, [(0, a)]), batch_id=0)
    # batch 1 is entirely a duplicate -> empty index segment
    ing.process_batch(_docs(spark, [(1, a)]), batch_id=1)
    rows = ing.search(spark, "single document", k=5).collect()
    assert [r["doc_id"] for r in rows] == [0]
    ing.compact_text_index(spark)
    rows2 = ing.search(spark, "single document", k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in rows2
    ]


def _media_payloads():
    A = bytes((i * 37 + (i // 10) * 11) % 256 for i in range(640))
    B = bytes((i * 91 + 7) % 256 for i in range(640))
    Bp = bytearray(B)
    for j in range(5):
        Bp[j] = 255
    C = bytes((i * 53 + 101) % 256 for i in range(640))
    return A, B, bytes(Bp), C


def test_media_dedup_within_and_cross_batch(spark, tmp_path):
    """Exact media dedup rides the fingerprint store: an in-batch payload
    copy keeps the lowest id, a cross-batch copy is suppressed by the
    'm|' fingerprints, NULL-payload docs are exempt."""
    A, B, Bp, C = _media_payloads()
    ing = CurationIngest(str(tmp_path), run_id="r1", media_dedup=True)
    rows0 = [
        (0, "first document about rivers and stone bridges", A),
        (1, "second document describing orchards and cider presses", A),
        (2, "third document on alpine weather and snowfall", C),
    ]
    ing.process_batch(
        spark.createDataFrame(rows0, "doc_id long, text string, payload binary"),
        batch_id=0,
    )
    kept0 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept0 == {0, 2}  # 1's payload is a byte-copy of 0's
    rows1 = [
        (10, "fourth document concerning tidal marshes and herons", A),
        (11, "fifth document about pottery kilns and glazing", None),
        (12, "sixth document on compilers and register allocation", None),
    ]
    ing.process_batch(
        spark.createDataFrame(rows1, "doc_id long, text string, payload binary"),
        batch_id=1,
    )
    kept1 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    # 10 suppressed by the stored media fingerprint; NULL payloads both kept
    assert kept1 == {0, 2, 11, 12}


def test_media_near_dup_collapses_at_compaction(spark, tmp_path):
    """Perceptual near-copies (distinct bytes, tiny blockhash hamming)
    pass the per-batch exact gates but collapse when compact_curated adds
    phash edges to the component graph — the lambda split for media."""
    A, B, Bp, C = _media_payloads()
    ing = CurationIngest(str(tmp_path), run_id="r1", media_dedup=True)
    rows = [
        (0, "base document carrying the original image payload", B),
        (1, "perturbed copy document with slightly damaged pixels", Bp),
        (2, "genuinely different document with unrelated artwork", C),
    ]
    ing.process_batch(
        spark.createDataFrame(rows, "doc_id long, text string, payload binary"),
        batch_id=0,
    )
    kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept == {0, 1, 2}  # exact gates can't see the perturbation
    stats = ing.compact_curated(spark, assume_quiesced=True)
    assert stats["dropped_docs"] == 1
    kept2 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept2 == {0, 2}

# -------------------------------------------------- host-rank dimension store


def _host_docs(spark, rows):
    """rows: (doc_id, text, host, [linked hosts])."""
    return spark.createDataFrame(
        rows, "doc_id long, text string, host string, out_links array<string>"
    )


_HOST_TEXTS = [
    "maps of rivers and stone bridges drawn by hand over many long winters",
    "register allocation in optimizing compilers and careful loop unrolling",
    "a field guide to alpine wildflowers and the wild bees that visit them",
    "harbor tide tables and the schedule of the evening ferry crossings",
    "buy cheap pills now amazing deal click this link for instant offers",
    "casino bonus spins deposit match jackpot withdraw your winnings today",
]


def test_host_rank_store_lifecycle_and_gate(spark, tmp_path):
    """Before the first recompute there is no rank generation and no
    gate; the maintain job folds the accumulated edge segments into a
    generation; later batches broadcast-join it and drop spam-component
    docs — rank-as-dimension, refreshed periodically."""
    ing = CurationIngest(
        str(tmp_path), run_id="r1",
        host_col="host", host_links_col="out_links",
        host_trust_seeds=["seed"],
    )
    b0 = _host_docs(spark, [
        (0, _HOST_TEXTS[0], "seed", ["good1"]),
        (1, _HOST_TEXTS[1], "good1", ["good2"]),
        (2, _HOST_TEXTS[4], "spamA", ["spamB"]),
    ])
    ing.process_batch(b0, batch_id=0)
    # no generation yet: everything (including the spam-host doc) passes
    assert {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()} \
        == {0, 1, 2}
    assert ing.read_host_ranks(spark) is None
    stats = ing.recompute_host_ranks(spark)
    assert stats["hosts"] == 5 and stats["folded_segments"] == 1
    assert stats["trust_seeds_in_graph"] == 1
    ranks = {r["host"]: r for r in ing.read_host_ranks(spark).collect()}
    assert ranks["spamA"]["host_trustrank_fp"] == 0
    assert ranks["good1"]["host_trustrank_fp"] > 0
    # batch 1 is gated by the stored generation: the spam-host doc and
    # the unknown-host doc are dropped, the trusted-host doc survives
    b1 = _host_docs(spark, [
        (10, _HOST_TEXTS[2], "good2", []),
        (11, _HOST_TEXTS[5], "spamB", ["spamA"]),
        (12, _HOST_TEXTS[3], "nobody-knows-me", []),
    ])
    ing.process_batch(b1, batch_id=1)
    kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept == {0, 1, 2, 10}
    # the gate's rank columns do not leak into the curated schema
    assert "host_pagerank_fp" not in ing.curated(spark).columns


def test_host_rank_recompute_accretes_and_replay_converges(spark, tmp_path):
    """Edges accumulate across recomputes (old generation's edge set +
    new segments); a replayed batch overwrites its own segment so the
    distinct edge set converges; a crashed recompute's orphan
    generation is GC'd by the next run and the pointer stays valid."""
    import os

    ing = CurationIngest(
        str(tmp_path), run_id="r1",
        host_col="host", host_links_col="out_links",
    )
    b0 = _host_docs(spark, [(0, _HOST_TEXTS[0], "a", ["b"])])
    ing.process_batch(b0, batch_id=0)
    ing.process_batch(b0, batch_id=0)  # redelivery: segment overwritten
    s0 = ing.recompute_host_ranks(spark)
    assert s0["edges"] == 1 and s0["hosts"] == 2
    # orphan generation from a "crashed" later run
    orphan = os.path.join(str(tmp_path), "host_ranks", "gen-deadbeef")
    os.makedirs(orphan, exist_ok=True)
    ing.process_batch(
        _host_docs(spark, [(1, _HOST_TEXTS[1], "b", ["c", "a"])]), batch_id=1
    )
    s1 = ing.recompute_host_ranks(spark)
    assert s1["edges"] == 3 and s1["hosts"] == 3  # old gen edges + new segment
    assert not os.path.isdir(orphan)
    # idempotent when nothing new arrived: the edge SET is unchanged
    s2 = ing.recompute_host_ranks(spark)
    assert s2["edges"] == 3 and s2["folded_segments"] == 0
    # integer fixed-point law: ranks identical across the no-op recompute
    r1 = sorted(map(tuple, ing.read_host_ranks(spark).collect()))
    assert [t[0] for t in r1] == ["a", "b", "c"]


def test_host_rank_recompute_no_seed_overlap_raises(spark, tmp_path):
    ing = CurationIngest(
        str(tmp_path), run_id="r1",
        host_col="host", host_links_col="out_links",
        host_trust_seeds=["not-in-any-crawl"],
    )
    ing.process_batch(
        _host_docs(spark, [(0, _HOST_TEXTS[0], "a", ["b"])]), batch_id=0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="none of the configured"):
        ing.recompute_host_ranks(spark)


def test_host_rank_maintain_cli(spark, tmp_path):
    from adsb_clickhouse_spark.__main__ import main

    ing = CurationIngest(
        str(tmp_path), run_id="r1",
        host_col="host", host_links_col="out_links",
    )
    ing.process_batch(
        _host_docs(spark, [
            (0, _HOST_TEXTS[0], "seed", ["good1"]),
            (1, _HOST_TEXTS[4], "spamA", ["spamB"]),
        ]),
        batch_id=0,
    )
    rc = main([
        "curate-maintain", str(tmp_path),
        "--recompute-host-ranks", "--host-trust-seeds", "seed",
    ])
    assert rc == 0
    ranks = {r["host"]: r for r in ing.read_host_ranks(spark).collect()}
    assert ranks["spamA"]["host_trustrank_fp"] == 0
    assert ranks["good1"]["host_trustrank_fp"] > 0

def test_mm_demo_cli_end_to_end(spark, tmp_path):
    """The flagship multimodal demo: media -> embedding -> ingest with
    media dedup + vector index -> compaction -> stored-index probe, one
    CLI invocation. Exit code 0 certifies the probe found the planted
    exact media at cosine 1.0."""
    from adsb_clickhouse_spark.__main__ import main

    rc = main(["mm-demo", "--n", "60", "--data-dir", str(tmp_path / "mm")])
    assert rc == 0

# ---------------------------------------------- phash band store (r10)


def test_media_near_dedup_suppresses_at_ingest(spark, tmp_path):
    """With media_near_dedup=True a perceptual near-copy is dropped AT
    INGEST — within the batch (smaller-id wins) and across batches (the
    stored band index remembers kept media) — instead of surviving until
    compaction. Distinct media and NULL payloads pass untouched."""
    A, B, Bp, C = _media_payloads()
    ing = CurationIngest(
        str(tmp_path), run_id="r1", media_dedup=True, media_near_dedup=True
    )
    rows0 = [
        (0, "base document carrying the original image payload", B),
        (1, "perturbed copy document with slightly damaged pixels", Bp),
        (2, "genuinely different document with unrelated artwork", C),
    ]
    ing.process_batch(
        spark.createDataFrame(rows0, "doc_id long, text string, payload binary"),
        batch_id=0,
    )
    kept0 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept0 == {0, 2}  # the near-copy fell within its own batch
    rows1 = [
        (10, "later document resending a perturbed original", Bp),
        (11, "fresh document with a brand new payload", A),
        (12, "document with no media at all", None),
    ]
    ing.process_batch(
        spark.createDataFrame(rows1, "doc_id long, text string, payload binary"),
        batch_id=1,
    )
    kept1 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    # 10's payload is within hamming of batch-0's KEPT media -> dropped
    # by the stored band probe; 11 new; 12 NULL-exempt
    assert kept1 == {0, 2, 11, 12}


def test_media_near_dedup_replay_and_compaction(spark, tmp_path):
    """A replayed batch converges (its band segment is overwritten, its
    own bands can't suppress its own rows); compact_phash_bands folds
    segments into the bucketed table and the probe keeps suppressing."""
    import os

    A, B, Bp, C = _media_payloads()
    ing = CurationIngest(
        str(tmp_path), run_id="r1", media_dedup=True, media_near_dedup=True
    )
    b0 = spark.createDataFrame(
        [(0, "document zero with the original artwork payload", B)],
        "doc_id long, text string, payload binary",
    )
    ing.process_batch(b0, batch_id=0)
    ing.process_batch(b0, batch_id=0)  # redelivery
    assert {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()} == {0}
    stats = ing.compact_phash_bands(spark, assume_quiesced=True)
    assert stats["folded_segments"] == 1
    _age_and_sweep_keyed(ing, spark, ing.phash_bands_path)
    assert not [e for e in os.listdir(ing.phash_bands_path) if e.startswith("batch_id=")]
    # post-compaction probe: a near-copy in a later batch still falls
    ing.process_batch(
        spark.createDataFrame(
            [(5, "post compaction perturbed resend of the artwork", Bp),
             (6, "post compaction genuinely new artwork", C)],
            "doc_id long, text string, payload binary",
        ),
        batch_id=1,
    )
    kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept == {0, 6}
    # dangling pointer fails loudly
    with open(os.path.join(ing.phash_bands_path, "_STORE"), "w") as fh:
        fh.write("no_such_band_table")
    with pytest.raises(RuntimeError, match="missing table"):
        ing.process_batch(
            spark.createDataFrame(
                [(9, "another doc that now cannot be band-checked", A)],
                "doc_id long, text string, payload binary",
            ),
            batch_id=2,
        )

def test_phash_band_store_bucketed_join_colocates(spark, tmp_path):
    """After compact_phash_bands the probe's equi-join on the single
    bkey long co-locates against the bucketed store: exactly ONE
    Exchange (the batch side) in the join plan, store scan bucketed —
    the fingerprint-store plan shape applied to the banded-LSH key."""
    import os

    A, B, Bp, C = _media_payloads()
    ing = CurationIngest(
        str(tmp_path), run_id="r1", media_dedup=True, media_near_dedup=True
    )
    ing.process_batch(
        spark.createDataFrame(
            [(0, "document with artwork one for the band store", B),
             (1, "document with artwork two for the band store", C)],
            "doc_id long, text string, payload binary",
        ),
        batch_id=0,
    )
    stats = ing.compact_phash_bands(spark, buckets=8)
    try:
        assert stats["folded_segments"] == 1
        _age_and_sweep_keyed(ing, spark, ing.phash_bands_path)
        assert not [
            e for e in os.listdir(ing.phash_bands_path)
            if e.startswith("batch_id=")
        ]
        parts = ing.phash_band_store_parts(spark)
        assert len(parts) == 1 and parts[0].count() == 8  # 2 hashes × 4 bands
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = spark.createDataFrame(
                [(9, 0, 123)], "id long, bkey long, phash long"
            )
            j = probe.join(parts[0].withColumnRenamed("phash", "_sph"), "bkey")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert plan.count("Exchange") == 1
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
        # suppression still works across the compaction boundary and the
        # next compaction folds the new tail into the next generation
        ing.process_batch(
            spark.createDataFrame(
                [(5, "perturbed resend after band compaction", Bp),
                 (6, "fresh artwork after band compaction", A)],
                "doc_id long, text string, payload binary",
            ),
            batch_id=1,
        )
        kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
        assert kept == {0, 1, 6}
        stats2 = ing.compact_phash_bands(spark, buckets=8)
        assert stats2["folded_segments"] == 1
    finally:
        tbl = ing._band_table_name()
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_host_rank_percentile_gate_streaming(spark, tmp_path):
    """host_min_rank_pct gates each batch against the stored PageRank
    generation: below-percentile and unknown hosts are dropped."""
    ing = CurationIngest(
        str(tmp_path), run_id="r1",
        host_col="host", host_links_col="out_links",
        host_min_rank_pct=0.9,
    )
    # hub gets 3 in-links; spokes get none (pct 0.9 of the 4-node rank
    # distribution lands on the hub rank; >= keeps only the hub)
    b0 = _host_docs(spark, [
        (0, _HOST_TEXTS[0], "s1", ["hub"]),
        (1, _HOST_TEXTS[1], "s2", ["hub"]),
        (2, _HOST_TEXTS[2], "s3", ["hub"]),
    ])
    ing.process_batch(b0, batch_id=0)
    ing.recompute_host_ranks(spark)
    b1 = _host_docs(spark, [
        (10, _HOST_TEXTS[3], "hub", []),       # top-ranked -> kept
        (11, _HOST_TEXTS[4], "s1", []),        # below percentile -> dropped
        (12, _HOST_TEXTS[5], "never-seen", []),  # unknown -> dropped
    ])
    ing.process_batch(b1, batch_id=1)
    kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept == {0, 1, 2, 10}

def test_curate_maintain_cli_full_cycle(spark, tmp_path):
    """ONE curate-maintain invocation drives every store lifecycle job:
    fingerprint compaction, curated near-dedup, text-index fold,
    vector-index fold, phash-band fold, and the host-rank recompute —
    and the ingest keeps working (and suppressing) afterwards."""
    from adsb_clickhouse_spark.__main__ import main

    A, B, Bp, C = _media_payloads()
    ing = CurationIngest(
        str(tmp_path), run_id="r1",
        media_dedup=True, media_near_dedup=True, text_near_dedup=True,
        text_index=True, vector_index=True, vector_n_lists=2,
        host_col="host", host_links_col="out_links",
        host_trust_seeds=["seed"],
    )
    emb = [0.1, 0.2, 0.3, 0.4]
    rows = [
        (0, "rivers and stone bridges drawn over many winters", B,
         "seed", ["good1"], emb),
        (1, "register allocation and careful loop unrolling notes", C,
         "good1", [], [x * 2 for x in emb]),
        (2, "buy cheap pills now amazing deal click here", A,
         "spamA", ["spamB"], None),
    ]
    batch = spark.createDataFrame(
        rows,
        "doc_id long, text string, payload binary, host string, "
        "out_links array<string>, embedding array<double>",
    )
    ing.process_batch(batch, batch_id=0)
    rc = main([
        "curate-maintain", str(tmp_path),
        "--near-dedup", "--compact-index", "--compact-vectors",
        "--compact-bands", "--recompute-host-ranks",
        "--media-max-band-freq", "1000", "--text-max-band-freq", "1000",
        "--host-trust-seeds", "seed", "--assume-quiesced",
    ])
    assert rc == 0
    try:
        # every store answered: text search, vector knn, band suppression,
        # host gate — all from COMPACTED generations
        assert ing.search(spark, "rivers bridges", k=3).count() >= 1
        q = spark.createDataFrame(
            [(9, [x * 1.01 for x in emb])], "vec_id long, embedding array<double>"
        )
        assert ing.knn(spark, q, k=2, nprobe=2).count() >= 1
        ing.process_batch(
            spark.createDataFrame(
                [(10, "perturbed resend of the winter artwork", Bp,
                  "good1", [], None),
                 (11, "post maintenance doc from the spam ring", C[:0] or C,
                  "spamB", ["spamA"], None)],
                "doc_id long, text string, payload binary, host string, "
                "out_links array<string>, embedding array<double>",
            ),
            batch_id=1,
        )
        kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
        # 10: near-copy of kept media -> band store drops it
        # 11: spam-ring host (trustrank 0 in the stored generation) dropped
        # (its media C would also collide with doc 1's)
        assert 10 not in kept and 11 not in kept
        assert {0, 1, 2} <= kept
        # the text band store was folded by --compact-bands too
        assert ing._text_band_table_name() is not None
    finally:
        for tbl in (ing._store_table_name(), ing._band_table_name(),
                    ing._text_band_table_name()):
            if tbl:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")

# ------------------------------------------------ text band store (r10)


_NEAR_A = ("the river flows past the old stone bridge where fishermen "
           "gather every morning before the market opens and the town "
           "slowly wakes to the sound of carts on cobblestones")
# one word changed: high shingle overlap -> near-dup under threshold 0.5
_NEAR_A2 = _NEAR_A.replace("fishermen", "merchants")
_OTHER = ("register allocation in optimizing compilers interacts with "
          "instruction scheduling and loop unrolling in ways that make "
          "phase ordering a genuinely hard planning problem")


def test_text_near_dedup_suppresses_at_ingest(spark, tmp_path):
    """With text_near_dedup=True a near-copy of already-kept text falls
    AT INGEST: within the batch via exact-verified LSH pairs, across
    batches via the stored MinHash band index (signature-agreement
    verify — never touches corpus text). Distinct texts pass."""
    ing = CurationIngest(str(tmp_path), run_id="r1", text_near_dedup=True)
    ing.process_batch(
        _docs(spark, [(0, _NEAR_A), (1, _NEAR_A2), (2, _OTHER)]), batch_id=0
    )
    kept0 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept0 == {0, 2}  # in-batch near-copy collapsed to the smaller id
    ing.process_batch(
        _docs(spark, [(10, _NEAR_A2), (11, "a completely fresh body of "
                      "text about alpine wildflowers and visiting bees")]),
        batch_id=1,
    )
    kept1 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept1 == {0, 2, 11}  # 10 suppressed by the stored band index


def test_fused_valves_match_legacy_two_checkpoint_path(spark, tmp_path):
    """The r16 fused-valve funnel (every near-dedup drop-set derived
    from the single valve_ckpt_funnel checkpoint) keeps EXACTLY the
    legacy two-checkpoint semantics, including the subtle case the id_a
    restriction exists for: a media near-dup pair whose SMALLER id was
    dropped by the text stage must not claim its larger sibling (legacy
    computed media pairs over the text survivors, where that pair never
    existed). Curated sets and every per-gate drop count must match."""
    A, B, Bp, C = _media_payloads()
    _NEAR_A3 = _NEAR_A.replace("market", "harbor")
    schema = "doc_id long, text string, payload binary"
    b0 = [
        (4, _NEAR_A, None),            # kept
        (5, _NEAR_A2, B),              # text in-batch near-dup of 4
        (6, _OTHER, Bp),               # media near-dup of 5's payload —
                                       # MUST survive (5 fell to text)
        (7, "a separate body of text about glacier melt and the local "
            "water table measurements collected downstream", C),
    ]
    b1 = [
        (10, _NEAR_A3, None),          # text near-copy of stored 4
        (11, "an entirely fresh report on harbor dredging schedules and "
             "the seasonal silt budget of the estuary", B),
        # 11's payload is within hamming of KEPT 6's (Bp) -> must fall
        # at the stored phash band probe
        (12, "notes on compiler testing infrastructure and reduction "
             "of flaky integration suites over time", None),
    ]
    results = {}
    for mode, fused in (("fused", True), ("legacy", False)):
        base = tmp_path / mode
        # the legacy path runs under a configured media hot-band valve;
        # no band of these 4-row batches comes near 10 000, so the pair
        # set is the unvalved one
        ing = CurationIngest(
            str(base), run_id="r1", media_dedup=True, media_near_dedup=True,
            text_near_dedup=True,
            media_max_band_freq=None if fused else 10_000,
        )
        walls = {}
        for bid, rows in ((0, b0), (1, b1)):
            ing.process_batch(
                spark.createDataFrame(rows, schema), batch_id=bid
            )
            walls[bid] = dict(ing.last_stage_wall)
        # the fused path takes ONE valve checkpoint, the legacy two
        assert ("valve_ckpt_text_probe" in walls[0]) == (not fused)
        assert "valve_ckpt_funnel" in walls[0]
        kept = {
            r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()
        }
        log = {
            r["batch_id"]: r.asDict() for r in ing.ingest_log(spark).collect()
        }
        results[mode] = (kept, log)
    kept_f, log_f = results["fused"]
    kept_l, log_l = results["legacy"]
    assert kept_f == kept_l
    # pin the planted expectations explicitly
    assert kept_f == {4, 6, 7, 12}
    for seg in ("br1-0", "br1-1"):
        fr, lr = log_f[seg], log_l[seg]
        for gate in ("policy", "host", "exact_text", "exact_media",
                     "store_dup", "text_near_batch", "text_near_store",
                     "media_near_batch", "media_near_store"):
            assert fr[f"dropped_{gate}"] == lr[f"dropped_{gate}"], (seg, gate)
        assert fr["admitted"] == lr["admitted"]
    # the planted critical cases, by gate
    assert log_f["br1-0"]["dropped_text_near_batch"] == 1      # 5
    assert log_f["br1-0"]["dropped_media_near_batch"] == 0     # 6 survives
    assert log_f["br1-1"]["dropped_text_near_store"] == 1      # 10
    assert log_f["br1-1"]["dropped_media_near_store"] == 1     # 11


def test_fused_valves_fall_back_under_media_hot_band_valve(spark, tmp_path):
    """phash_near_dup's max_band_freq counts band frequency over its
    INPUT, so the fused pair set (over the pre-text base) is not
    restriction-stable — with the hot-band valve configured alongside
    text near-dedup the funnel must keep the legacy second checkpoint."""
    A, B, Bp, C = _media_payloads()
    ing = CurationIngest(
        str(tmp_path), run_id="r1", media_dedup=True, media_near_dedup=True,
        text_near_dedup=True, media_max_band_freq=64,
    )
    ing.process_batch(
        spark.createDataFrame(
            [(0, _NEAR_A, B), (1, _OTHER, C)],
            "doc_id long, text string, payload binary",
        ),
        batch_id=0,
    )
    assert "valve_ckpt_text_probe" in ing.last_stage_wall


def test_text_band_store_replay_compaction_and_pointer(spark, tmp_path):
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1", text_near_dedup=True)
    b0 = _docs(spark, [(0, _NEAR_A)])
    ing.process_batch(b0, batch_id=0)
    ing.process_batch(b0, batch_id=0)  # redelivery converges
    stats = ing.compact_text_bands(spark, assume_quiesced=True)
    try:
        assert stats["folded_segments"] == 1
        _age_and_sweep_keyed(ing, spark, ing.text_bands_path)
        assert not [
            e for e in os.listdir(ing.text_bands_path)
            if e.startswith("batch_id=")
        ]
        # suppression still works off the compacted bucketed table
        ing.process_batch(_docs(spark, [(5, _NEAR_A2), (6, _OTHER)]), batch_id=1)
        kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
        assert kept == {0, 6}
        with open(os.path.join(ing.text_bands_path, "_STORE"), "w") as fh:
            fh.write("no_such_tband_table")
        with pytest.raises(RuntimeError, match="missing table"):
            ing.process_batch(_docs(spark, [(9, _OTHER + " again")]), batch_id=2)
    finally:
        tbl = ing._text_band_table_name()
        if tbl and "no_such" not in tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")

def test_band_law_mismatch_fails_loudly(spark, tmp_path):
    """The band law (bands count / hash family) IS the store's key
    schema: probing a store written under bands=4 with bands=8 would
    produce a disjoint bkey space and silently re-admit near-dups. The
    _BAND_LAW marker makes that a loud failure instead."""
    A, B, Bp, C = _media_payloads()
    ing4 = CurationIngest(
        str(tmp_path), run_id="r1",
        media_dedup=True, media_near_dedup=True, media_bands=4,
    )
    batch = spark.createDataFrame(
        [(0, "document with the original artwork payload", B)],
        "doc_id long, text string, payload binary",
    )
    ing4.process_batch(batch, batch_id=0)
    # same config across a restart: fine
    CurationIngest(
        str(tmp_path), run_id="r2",
        media_dedup=True, media_near_dedup=True, media_bands=4,
    ).process_batch(
        spark.createDataFrame(
            [(1, "a second distinct document body", C)],
            "doc_id long, text string, payload binary",
        ),
        batch_id=0,
    )
    # different band count against the same store: loud failure
    ing8 = CurationIngest(
        str(tmp_path), run_id="r3",
        media_dedup=True, media_near_dedup=True, media_bands=8,
    )
    with pytest.raises(RuntimeError, match="band store .* written under law"):
        ing8.process_batch(
            spark.createDataFrame(
                [(2, "a third document body for the mismatch", A)],
                "doc_id long, text string, payload binary",
            ),
            batch_id=0,
        )


def test_text_band_law_tracks_configured_constants(spark, tmp_path):
    """The text band law string is DERIVED from the configured
    k/bands/w (r10 advice: a frozen literal let the real banding law
    drift under a still-matching marker). A store written at the
    default operating point probed by a k=32/bands=8 ingest is a loud
    mismatch, not a silent empty probe."""
    ing = CurationIngest(str(tmp_path), run_id="r1", text_near_dedup=True)
    assert ing._text_band_law() == "minhash|k=16|bands=4|w=3"
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    tight = CurationIngest(
        str(tmp_path), run_id="r2", text_near_dedup=True,
        text_minhash_k=32, text_bands=8,
    )
    assert tight._text_band_law() == "minhash|k=32|bands=8|w=3"
    with pytest.raises(RuntimeError, match="band store .* written under law"):
        tight.process_batch(_docs(spark, [(1, _OTHER)]), batch_id=0)
    # k not divisible by bands is rejected at construction
    with pytest.raises(ValueError, match="divisible"):
        CurationIngest(str(tmp_path), text_minhash_k=16, text_bands=5)


def test_text_band_second_operating_point(spark, tmp_path):
    """The tighter k=32/bands=8 S-curve point works end-to-end: in-batch
    and cross-batch suppression of a near-copy, distinct texts kept —
    the banding constants flow through probe, append, and law marker."""
    ing = CurationIngest(
        str(tmp_path), run_id="r1", text_near_dedup=True,
        text_minhash_k=32, text_bands=8,
    )
    ing.process_batch(
        _docs(spark, [(0, _NEAR_A), (1, _NEAR_A2), (2, _OTHER)]), batch_id=0
    )
    kept0 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept0 == {0, 2}
    ing.process_batch(
        _docs(spark, [(10, _NEAR_A2), (11, "fresh prose on tidal marsh "
                      "ecology and the birds that winter there")]),
        batch_id=1,
    )
    kept1 = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept1 == {0, 2, 11}


# -- per-batch observability (r11): the ingest_log health record --------


def test_ingest_log_gate_counts_match_planted_fixture(spark, tmp_path):
    """Every gate's drop count in the stats row matches the planted
    batch: policy (quality/PII), within-batch exact dup, cross-batch
    store dup, and in-batch + cross-batch text near-dup — counted by
    CollectMetrics taps on the funnel's own write job (no extra pass),
    one row per batch inside the commit envelope."""
    ing = CurationIngest(
        str(tmp_path), run_id="r1", min_quality=0.1, drop_pii_docs=True,
        text_near_dedup=True,
    )
    good = "the quick brown fox jumps over the lazy dog and keeps on running far"
    pii = "contact me at someone@example.com for all of the details of the plan"
    b0 = [
        (0, good),
        (1, pii),        # policy: PII
        (2, None),       # policy: NULL text scores 0
        (3, good),       # within-batch exact dup of 0
        (4, _NEAR_A),
        (5, _NEAR_A2),   # in-batch near-dup of 4
    ]
    ing.process_batch(_docs(spark, b0), batch_id=0)
    log0 = {r["batch_id"]: r for r in ing.ingest_log(spark).collect()}
    row = log0["br1-0"]
    assert row["rows_in"] == 6
    assert row["dropped_policy"] == 2
    assert row["dropped_exact_text"] == 1
    assert row["dropped_store_dup"] == 0
    assert row["dropped_text_near_batch"] == 1
    assert row["dropped_text_near_store"] == 0
    assert row["admitted"] == 2
    assert row["dropped_host"] == 0 and row["dropped_exact_media"] == 0
    # second batch: one store dup (exact resend) + one stored near-dup
    ing.process_batch(
        _docs(spark, [(10, good), (11, _NEAR_A2), (12, _OTHER)]), batch_id=1
    )
    row1 = {r["batch_id"]: r for r in ing.ingest_log(spark).collect()}["br1-1"]
    assert row1["rows_in"] == 3
    assert row1["dropped_store_dup"] == 1      # 10: exact resend of kept 0
    assert row1["dropped_text_near_store"] == 1  # 11: near-copy of kept 4
    assert row1["admitted"] == 1
    # in/out ledger balances on every row
    for r in (row, row1):
        drops = sum(
            r[f"dropped_{g}"]
            for g in (
                "policy", "host", "exact_text", "exact_media", "store_dup",
                "text_near_batch", "text_near_store", "media_near_batch",
                "media_near_store",
            )
        )
        assert r["rows_in"] - drops == r["admitted"]
    # report aggregates the same numbers
    rep = ing.ingest_report(spark)
    assert rep["n_batches"] == 2
    assert rep["rows_in"] == 9 and rep["admitted"] == 3
    assert rep["dropped"]["policy"] == 2
    assert rep["dropped"]["store_dup"] == 1
    assert rep["latest_batch"]["batch_id"] == "br1-1"


def test_ingest_log_replay_leaves_one_row(spark, tmp_path):
    """A replayed batch (crash before the checkpoint commit) rewrites
    its own stats row; a redelivered COMMITTED batch no-ops — either
    way exactly one stats row per batch survives."""
    ing = CurationIngest(str(tmp_path), run_id="r1")
    b = _docs(spark, [(0, _NEAR_A), (1, _OTHER)])
    ing.process_batch(b, batch_id=0)
    ing.process_batch(b, batch_id=0)  # redelivery after commit: no-op
    log = ing.ingest_log(spark)
    assert log.count() == 1
    # crash-before-marker replay: remove the marker, replay, still one row
    import os
    os.remove(ing._marker("br1-0"))
    ing.process_batch(b, batch_id=0)
    assert ing.ingest_log(spark).count() == 1
    assert ing.ingest_log(spark).collect()[0]["rows_in"] == 2


def test_ingest_report_cli(spark, tmp_path, capsys):
    from adsb_clickhouse_spark.__main__ import main

    ing = CurationIngest(str(tmp_path), run_id="r1")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    assert main(["ingest-report", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert '"admitted": 1' in out and '"n_batches": 1' in out
    # empty dir: clean message, nonzero exit
    assert main(["ingest-report", str(tmp_path / "nothing")]) == 1


def test_vector_index_embed_fallback_on_text_only_stream(spark, tmp_path):
    """vector_index=True + embed_dim on a TEXT-ONLY stream: survivors
    are embedded by the deterministic hashed-projection embedder and
    indexed; a text query embedded under the same law finds its exact
    copy at cosine 1.0 from the stored index."""
    from adsb_clickhouse_spark.operators.similarity import hashed_text_embeddings

    ing = CurationIngest(
        str(tmp_path), run_id="r1", vector_index=True, embed_dim=32,
        vector_n_lists=2,
    )
    ing.process_batch(_docs(spark, [(0, _NEAR_A), (1, _OTHER)]), batch_id=0)
    q = hashed_text_embeddings(
        spark.createDataFrame([(99, _NEAR_A)], "doc_id long, text string"),
        dim=32,
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    hits = ing.knn(spark, q, k=1, nprobe=2).collect()
    assert hits[0]["neighbor_id"] == 0 and hits[0]["cos_sim"] == 1.0
    # compaction re-learns the quantizer from the embedded corpus and
    # the probe still resolves
    ing.compact_vector_index(spark)
    hits2 = ing.knn(spark, q, k=1, nprobe=2).collect()
    assert hits2[0]["neighbor_id"] == 0 and hits2[0]["cos_sim"] == 1.0


# -- all-stores soak (r11): flat latency + mid-run maintenance ------------


def test_all_stores_soak_flat_latency(spark, tmp_path):
    """Every store ON (fingerprints, text+media band indexes, text
    index, vector index via the hashed embedder, host edges+ranks),
    N batches with planted exact/near resends, ONE full curate-maintain
    cycle mid-run: per-batch latency must stay flat (the stores'
    whole design claim), suppression must survive the maintenance, the
    ingest log must balance, and store growth must stay bounded."""
    import os
    import time

    from adsb_clickhouse_spark.__main__ import main

    def payload(i: int) -> bytes:
        # md5-derived pseudo-random bytes: structured (linear) patterns
        # could alias in blockhash and glue unrelated media together
        import hashlib as _h
        out = b""
        j = 0
        while len(out) < 640:
            out += _h.md5(f"soak|{i}|{j}".encode()).digest()
            j += 1
        return out[:640]

    def words(seed: str, n: int = 18) -> list:
        # hash-derived token streams: pairwise-random texts (a shared
        # template would legitimately band-match everything — the
        # false-positive regime this soak is NOT about)
        import hashlib as _h
        return [
            "w" + _h.md5(f"{seed}|{p}".encode()).hexdigest()[:6]
            for p in range(n)
        ]

    def mk_batch(b: int, per: int = 40):
        rows = []
        for k in range(per):
            i = b * per + k
            # hosts form a 7-ring (h_j -> h_{j+1}) so every host is
            # reachable from the h0 trust seed — the post-maintain gate
            # must drop NOTHING in this soak
            h = (k if b == 0 and k < 8 else i) % 7
            if b == 0 and k < 8:  # the planted base texts + payloads
                rows.append((i, " ".join(words(f"base|{k}")),
                             payload(k), f"h{h}", [f"h{(h + 1) % 7}"]))
            elif b > 0 and k < 4:  # exact resends of batch-0 bases
                h = k % 7
                rows.append((i, " ".join(words(f"base|{k}")),
                             payload(k), f"h{h}", [f"h{(h + 1) % 7}"]))
            elif b > 0 and k < 8:  # near-copies of batch-0 bases (one
                # middle word changed: high-J, the band store's regime;
                # the SAME near text every batch, so a batch-1 S-curve
                # miss is admitted once and exact-suppressed after)
                w = words(f"base|{k}")
                w[9] = "changed"
                h = k % 7
                rows.append((i, " ".join(w),
                             payload(1000 + i), f"h{h}", [f"h{(h + 1) % 7}"]))
            else:
                rows.append((i, " ".join(words(f"uniq|{i}")),
                             payload(1000 + i), f"h{h}", [f"h{(h + 1) % 7}"]))
        return spark.createDataFrame(
            rows,
            "doc_id long, text string, payload binary, host string, "
            "out_links array<string>",
        )

    ing = CurationIngest(
        str(tmp_path), run_id="soak",
        media_dedup=True, media_near_dedup=True, text_near_dedup=True,
        text_index=True, vector_index=True, embed_dim=16, vector_n_lists=4,
        host_col="host", host_links_col="out_links",
        host_trust_seeds=["h0"],
    )
    N = 10
    lat = []
    for b in range(N):
        t0 = time.perf_counter()
        ing.process_batch(mk_batch(b), batch_id=b)
        lat.append(time.perf_counter() - t0)
        if b == N // 2 - 1:
            rc = main([
                "curate-maintain", str(tmp_path),
                "--compact-index", "--compact-vectors", "--compact-bands",
                "--recompute-host-ranks", "--host-trust-seeds", "h0",
                # the 7-ring needs >=7 hops for trust to reach h6 —
                # fewer iterations would legitimately TrustRank-zero it
                "--host-rank-iterations", "8",
                "--assume-quiesced", "--buckets", "4",
            ])
            assert rc == 0
    try:
        # flat latency: the tail must not have grown with the store
        # (generous 3x bound — local-mode scatter is real, growth is
        # what we exclude: an O(store) probe would be ~8x by batch 14)
        early = sorted(lat[1:5])[1]
        late = sorted(lat[-4:])[1]
        assert late <= 3.0 * early, f"latency grew: {early:.2f}s -> {late:.2f}s ({lat})"
        # maintenance folded the pre-maintain segments of every store
        assert ing._store_table_name() is not None
        assert ing._band_table_name() is not None
        assert ing._text_band_table_name() is not None
        retired = ing._retired_paths(ing.fps_path)
        fps_segs = [
            e
            for e in os.listdir(ing.fps_path)
            if e.startswith("batch_id=")
            and os.path.join(ing.fps_path, e) not in retired
        ]
        assert len(fps_segs) == N // 2  # only post-maintain segments live
        # suppression correctness across the whole run: each batch-0
        # text is curated exactly once; each near-copy TEXT is admitted
        # at most once ever (LSH recall is an S-curve — a near-copy the
        # bands miss in batch 1 is admitted, and from then on its exact
        # fingerprint suppresses every identical resend)
        cur = ing.curated(spark)
        n_cur = cur.count()
        base_unique = 40 + (N - 1) * 32  # batch 0 full + 32 new/batch after
        assert base_unique <= n_cur <= base_unique + 4, (n_cur, base_unique)
        # ingest log: one row per batch, ledger balances, and the dedup
        # gates kept firing after maintenance: the last batch's 8
        # resend rows all fell to exact-store / near-dup gates
        log = ing.ingest_log(spark).orderBy("ts").collect()
        assert len(log) == N
        gates = ("policy", "host", "exact_text", "exact_media", "store_dup",
                 "text_near_batch", "text_near_store", "media_near_batch",
                 "media_near_store")
        for r in log:
            assert r["rows_in"] - sum(r[f"dropped_{g}"] for g in gates) == r["admitted"]
        last = log[-1]
        resend_drops = (
            last["dropped_store_dup"]
            + last["dropped_text_near_batch"]
            + last["dropped_text_near_store"]
        )
        assert resend_drops == 8 and last["admitted"] == 32, dict(last.asDict())
        assert last["dropped_store_dup"] >= 4  # the 4 exact resends at least
        # the stored vector index still answers from the re-learned
        # quantizer: a batch-0 text embeds to cosine 1.0 with itself
        from adsb_clickhouse_spark.operators.similarity import (
            hashed_text_embeddings,
        )

        q = hashed_text_embeddings(
            cur.filter(F.col("doc_id") == 0).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            dim=16,
        ).select(
            # the probe excludes neighbor_id == query_id (self-match);
            # a query id colliding with doc 0 would hide its own hit
            (F.col("doc_id") + 1_000_000).alias("vec_id"),
            "embedding",
        )
        hits = ing.knn(spark, q, k=1, nprobe=4).collect()
        assert hits and hits[0]["neighbor_id"] == 0 and hits[0]["cos_sim"] == 1.0
    finally:
        for tbl in (ing._store_table_name(), ing._band_table_name(),
                    ing._text_band_table_name()):
            if tbl:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_band_store_append_does_not_recache_away_fingerprints(spark, tmp_path):
    """Regression (r11, latent since r10): the band-store appends write
    into paths the survivor frame's plan READS, and Spark's
    CacheManager recacheByPath recomputed the persisted frame with a
    fresh file listing — the batch then matched its OWN just-written
    band rows and recached EMPTY, so every later append (fingerprints!)
    silently wrote zero rows for batches after the first. Fixed by
    materializing survivors with an eager localCheckpoint (lineage
    truncated — no path reference left to recache). Pin the data-level
    consequence: a batch-2 exact resend of a batch-1 doc must be
    suppressed by the fingerprint store."""
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1", text_near_dedup=True)
    b1_text = ("a batch one document with a genuinely distinct body of "
               "words that must enter the dedup memory")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    ing.process_batch(_docs(spark, [(10, b1_text)]), batch_id=1)
    # the batch-1 fingerprint segment must exist on disk
    segs = sorted(
        e for e in os.listdir(ing.fps_path) if e.startswith("batch_id=")
    )
    assert segs == ["batch_id=br1-0", "batch_id=br1-1"], segs
    # and the store must remember batch 1: an exact resend is dropped
    ing.process_batch(_docs(spark, [(20, b1_text)]), batch_id=2)
    kept = {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()}
    assert kept == {0, 10}
    log = {r["batch_id"]: r for r in ing.ingest_log(spark).collect()}
    assert log["br1-2"]["dropped_store_dup"] == 1


def test_ingest_report_excludes_uncommitted_crashed_attempt(spark, tmp_path):
    """A permanently-abandoned crashed attempt (stats row written,
    marker never written, stream never restarted) must not inflate
    ingest_report's lifetime totals — the report counts COMMITTED
    batches only; the raw ingest_log keeps the orphan visible for
    debugging. Adhoc (synchronous) rows stay counted: they have no
    marker by design."""
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, _OTHER)]), batch_id=1)
    os.remove(ing._marker("br1-1"))  # crash: marker never made it
    rep = ing.ingest_report(spark)
    assert rep["n_batches"] == 1
    assert rep["rows_in"] == 1 and rep["admitted"] == 1
    assert rep["latest_batch"]["batch_id"] == "br1-0"
    assert ing.ingest_log(spark).count() == 2  # raw view keeps the orphan
    # an adhoc call is synchronous — its row exists only because the
    # funnel completed, so it counts without a marker
    ing.process_batch(_docs(spark, [(2, _NEAR_A2)]), batch_id=None)
    rep2 = ing.ingest_report(spark)
    assert rep2["n_batches"] == 2
    assert rep2["rows_in"] == 2


def test_batch_checkpoint_blocks_freed_at_batch_end(spark, tmp_path):
    """Every eager localCheckpoint the funnel takes (plan-size valves +
    the final materialization) is freed when the batch ends.
    Dataset.unpersist() is a CacheManager no-op for RDD-persisted
    checkpoint blocks (the r11 finally block relied on it), so a
    long-lived driver loop accumulated blocks until the ContextCleaner
    happened to GC them — the fix unpersists the backing RDD through
    the LogicalRDD plan node.

    The invariant is NO NET GROWTH (a leak shows as count > before) —
    asserted one-sided because in a shared full-suite session the
    asynchronous ContextCleaner may GC an EARLIER test's leftover
    blocks between the `before` snapshot and the final count, which
    can only shrink it (observed: 41 < 42 under a 38-minute suite
    run; green in isolation)."""

    def n_persistent():
        return spark._jsc.sc().getPersistentRDDs().size()

    ing = CurationIngest(str(tmp_path), run_id="r1", text_near_dedup=True)
    before = n_persistent()
    ing.process_batch(_docs(spark, [(0, _NEAR_A), (1, _OTHER)]), batch_id=0)
    ing.process_batch(_docs(spark, [(2, _NEAR_A2), (3, _OTHER)]), batch_id=1)
    assert n_persistent() <= before


def test_curate_maintain_adopts_stored_band_law(spark, tmp_path, capsys):
    """curate-maintain reads each band store's _BAND_LAW marker and
    configures itself to match, so a corpus ingested under k=32/b=8 is
    compacted under THAT law instead of the constructor defaults
    (r11 advice: recall silently differed from the configured S-curve)."""
    from adsb_clickhouse_spark.__main__ import main
    from adsb_clickhouse_spark.streaming.curation import stored_band_law_params

    ing = CurationIngest(
        str(tmp_path), run_id="r1", text_near_dedup=True,
        text_minhash_k=32, text_bands=8, text_shingle_w=5,
    )
    ing.process_batch(_docs(spark, [(0, _NEAR_A), (1, _OTHER)]), batch_id=0)
    law = stored_band_law_params(str(tmp_path / "text_bands"))
    assert law == {"k": 32, "bands": 8, "w": 5}
    # no marker yet -> {}
    assert stored_band_law_params(str(tmp_path / "phash_bands")) == {}
    assert main(["curate-maintain", str(tmp_path), "--near-dedup"]) == 0
    out = capsys.readouterr().out
    assert "text band law (from store marker): {'k': 32, 'bands': 8, 'w': 5}" in out


def test_curated_fold_state_reads_legacy_json_manifest(spark, tmp_path):
    """Pre-r12 near-dedup compactions wrote their _FOLDED manifests as
    JSON arrays; the shared genstore manifest is line-based. A store
    carrying the legacy format must resolve identically."""
    import json
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1", text_near_dedup=False)
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, _NEAR_A2)]), batch_id=1)
    res = ing.compact_curated(spark, threshold=0.5)
    assert res["folded_segments"] == 2 and res["dropped_docs"] == 1
    live, folded = ing._curated_fold_state()
    assert folded == {"br1-0", "br1-1"}
    # rewrite the manifest in the legacy JSON format: same resolution
    seg_dir = os.path.join(ing.curated_path, f"batch_id={res['segment']}")
    from adsb_clickhouse_spark.plans.genstore import FOLDED_MANIFEST

    with open(os.path.join(seg_dir, FOLDED_MANIFEST), "w") as fh:
        json.dump(sorted(folded), fh)
    live2, folded2 = ing._curated_fold_state()
    assert (live2, folded2) == (live, folded)
    assert {r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()} == {0}


def test_ingest_log_compaction_and_segment_alarms(spark, tmp_path):
    """compact_ingest_log folds committed per-batch stats segments into
    one generation (batch_id preserved as a data column), leaves
    uncommitted segments intact, applies the age horizon, and a replayed
    ingest afterwards keeps appending live segments the reader unions
    in. ingest_report names stores whose live-segment count exceeds the
    alarm threshold."""
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, _OTHER)]), batch_id=1)
    ing.process_batch(_docs(spark, [(2, _NEAR_A2)]), batch_id=2)
    os.remove(ing._marker("br1-2"))  # an in-flight/crashed batch
    res = ing.compact_ingest_log(spark)
    assert res["folded_segments"] == 2
    assert res["skipped_uncommitted"] == 1
    # reader: compacted gen + the unfolded segment = all 3 rows,
    # batch ids intact
    log = {r["batch_id"]: r for r in ing.ingest_log(spark).collect()}
    assert set(log) == {"br1-0", "br1-1", "br1-2"}
    assert log["br1-0"]["rows_in"] == 1
    # report still excludes the uncommitted row
    assert ing.ingest_report(spark)["n_batches"] == 2
    # directory growth is bounded: only the uncommitted segment remains
    assert ing.live_segment_counts()["ingest_log"] == 1
    # later batches append live segments the union picks up
    ing.process_batch(_docs(spark, [(3, _OTHER + " more words here")]), batch_id=3)
    assert ing.ingest_log(spark).count() == 4
    # second fold folds the rest (now committed); age horizon drops all
    res2 = ing.compact_ingest_log(spark, max_age_sec=0.0, assume_quiesced=True)
    assert res2["folded_segments"] == 2
    assert res2["dropped_aged_rows"] >= 2
    assert ing.live_segment_counts()["ingest_log"] == 0
    # alarm fires when a store's live segments exceed the threshold
    rep = ing.ingest_report(spark, max_live_segments=0)
    assert "fingerprints" in rep["segment_alarms"]
    assert rep["live_segments"]["fingerprints"] == 4
    assert ing.ingest_report(spark)["segment_alarms"] == []


def test_curate_maintain_cli_folds_ingest_log(spark, tmp_path, capsys):
    from adsb_clickhouse_spark.__main__ import main

    ing = CurationIngest(str(tmp_path), run_id="r1")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, _OTHER)]), batch_id=1)
    assert main(["curate-maintain", str(tmp_path), "--fold-ingest-log"]) == 0
    out = capsys.readouterr().out
    assert "'folded_segments': 2" in out.split("ingest_log:")[1]
    assert ing.ingest_log(spark).count() == 2


def test_text_demo_cli_end_to_end(spark, tmp_path, capsys):
    """The flagship TEXT-ONLY demo (mm-demo's twin, no external model):
    corpus -> hashed embedder -> ingest with exact + band near-dedup +
    stored vector index -> compaction -> kNN probe of a planted
    paraphrase. Exit code 0 certifies the probe's top hit is the
    planted original."""
    from adsb_clickhouse_spark.__main__ import main

    rc = main(["text-demo", "--n", "60", "--data-dir", str(tmp_path / "td")])
    out = capsys.readouterr().out
    assert rc == 0, out
    import json

    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["probe_hit_doc4"] is True
    assert rep["dropped_exact"] == 6  # the 6 planted byte-exact copies


def test_vector_index_embed_fallback_honors_ngram(spark, tmp_path):
    """embed_ngram=(1,2) flows through the text-only vector-index
    fallback: the stored vectors match the standalone embedder's bigram
    law (bit-exact integer components)."""
    from adsb_clickhouse_spark.operators.similarity import hashed_text_embeddings

    ing = CurationIngest(
        str(tmp_path), run_id="r1", vector_index=True, embed_dim=16,
        vector_n_lists=2, embed_ngram=(1, 2),
    )
    ing.process_batch(_docs(spark, [(0, _NEAR_A), (1, _OTHER)]), batch_id=0)
    import os

    from adsb_clickhouse_spark.plans.genstore import gen_name

    seg = os.path.join(ing.vector_index_path, "segments")
    segs = [e for e in os.listdir(seg) if not e.startswith("_")]
    stored = {
        r["id"]: r["v"]
        for r in spark.read.parquet(
            os.path.join(seg, segs[0], "vectors")
        ).collect()
    }
    want = {
        r["doc_id"]: r["embedding"]
        for r in hashed_text_embeddings(
            _docs(spark, [(0, _NEAR_A), (1, _OTHER)]), dim=16, ngram=(1, 2)
        ).collect()
    }
    assert stored == want


def test_embed_law_recorded_and_enforced(spark, tmp_path):
    """The text-fallback embedder's law (dim + ngram) is recorded in
    the vector index at first use and a restarted ingest configured
    with a different law fails LOUDLY — appending unigram-law vectors
    into a bigram-law index would silently degrade kNN/SemDeDup recall,
    the exact failure mode _BAND_LAW makes loud for band stores."""
    from adsb_clickhouse_spark.streaming.curation import stored_embed_law_params

    kw = dict(vector_index=True, embed_dim=16, vector_n_lists=2)
    ing = CurationIngest(str(tmp_path), run_id="r1", embed_ngram=(1, 2), **kw)
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    assert stored_embed_law_params(ing.vector_index_path) == {
        "dim": 16, "ngram_lo": 1, "ngram_hi": 2,
    }
    # a same-law restart appends fine
    ing2 = CurationIngest(str(tmp_path), run_id="r1", embed_ngram=(1, 2), **kw)
    ing2.process_batch(_docs(spark, [(1, _OTHER)]), batch_id=1)
    # a default-(unigram-)law restart fails before touching the store
    ing3 = CurationIngest(str(tmp_path), run_id="r1", **kw)
    with pytest.raises(RuntimeError, match="written under law"):
        ing3.process_batch(_docs(spark, [(2, _NEAR_A2)]), batch_id=2)
    # an index that never fallback-embedded has no law to report
    assert stored_embed_law_params(str(tmp_path / "nowhere")) == {}


def test_curate_maintain_adopts_stored_embed_law(spark, tmp_path, capsys):
    from adsb_clickhouse_spark.__main__ import main

    ing = CurationIngest(
        str(tmp_path), run_id="r1", vector_index=True, embed_dim=16,
        vector_n_lists=2, embed_ngram=(1, 2),
    )
    ing.process_batch(_docs(spark, [(0, _NEAR_A), (1, _OTHER)]), batch_id=0)
    assert main(["curate-maintain", str(tmp_path), "--compact-vectors"]) == 0
    out = capsys.readouterr().out
    assert "embed law (from store marker)" in out
    assert "'ngram_hi': 2" in out


def test_marker_retention_folds_files_into_manifest(spark, tmp_path):
    """compact_markers folds per-batch commit-marker FILES into the
    _COMMITTED manifest: committedness (and so replay idempotence and
    the report's committed filter) is preserved while the commits dir
    stops growing one inode per batch forever."""
    import os

    ing = CurationIngest(str(tmp_path), run_id="r1")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, _OTHER)]), batch_id=1)
    ing.process_batch(_docs(spark, [(2, _NEAR_A2)]), batch_id=2)
    assert ing.compact_markers() == 3
    assert sorted(os.listdir(ing.commits_path)) == ["_COMMITTED"]
    assert ing._is_committed("br1-1")
    # a committed redelivery still no-ops after the fold
    pre = sorted(
        r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()
    )
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    assert sorted(
        r["doc_id"] for r in ing.curated(spark).select("doc_id").collect()
    ) == pre
    assert ing.last_stage_wall == {}  # no stale attribution on the no-op
    # the report's committed filter unions manifest + live marker files
    assert ing.ingest_report(spark)["n_batches"] == 3
    ing.process_batch(_docs(spark, [(3, _OTHER + " and more")]), batch_id=3)
    assert ing.ingest_report(spark)["n_batches"] == 4
    # the next log fold sweeps the new marker file too
    res = ing.compact_ingest_log(spark)
    assert res["folded_markers"] == 1
    assert sorted(os.listdir(ing.commits_path)) == ["_COMMITTED"]
    assert ing.ingest_report(spark)["n_batches"] == 4


def test_compact_ingest_log_noop_when_nothing_new(spark, tmp_path):
    """A periodic maintain with no new committed batches must not
    re-fold the existing generation (a full read+write job and pointer
    churn for zero data change)."""
    ing = CurationIngest(str(tmp_path), run_id="r1")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    ing.process_batch(_docs(spark, [(1, _OTHER)]), batch_id=1)
    res1 = ing.compact_ingest_log(spark)
    assert res1["folded_segments"] == 2
    res2 = ing.compact_ingest_log(spark)
    assert res2["folded_segments"] == 0
    assert res2["generation"] == res1["generation"]  # pointer untouched
    # an age horizon still forces the rewrite through the no-op guard
    res3 = ing.compact_ingest_log(spark, max_age_sec=0.0)
    assert res3["generation"] != res1["generation"]
    assert res3["dropped_aged_rows"] == 2


def test_parallel_appends_match_sequential(spark, tmp_path):
    """The concurrent store appends (r12 floor cut) produce stores
    identical to the sequential form — same curated rows, fingerprints,
    band keys, index segments, and ledger — because order between the
    independent appends was never load-bearing."""
    import os

    def run(sub: str, parallel: bool) -> CurationIngest:
        ing = CurationIngest(
            str(tmp_path / sub), run_id="r1",
            media_dedup=True, media_near_dedup=True, text_near_dedup=True,
            text_index=True, vector_index=True, embed_dim=16,
            vector_n_lists=2, host_col="host", host_links_col="out_links",
            parallel_appends=parallel,
        )
        rows = [
            (0, _NEAR_A, b"m0" * 40, "h0", ["h1"]),
            (1, _OTHER, b"m1" * 40, "h1", ["h0"]),
            (2, _NEAR_A, b"m0" * 40, "h0", ["h1"]),  # exact dup of 0
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, payload binary, host string, "
            "out_links array<string>",
        )
        ing.process_batch(df, batch_id=0)
        ing.process_batch(
            spark.createDataFrame(
                [(3, _NEAR_A2, b"m3" * 40, "h2", ["h0"])],
                "doc_id long, text string, payload binary, host string, "
                "out_links array<string>",
            ),
            batch_id=1,
        )
        return ing

    par, seq = run("par", True), run("seq", False)

    from adsb_clickhouse_spark.streaming.curation import _has_parquet

    def rows(ing, path):
        if not _has_parquet(path):
            return []
        df = spark.read.parquet(path)
        cols = sorted(c for c in df.columns if c != "batch_id")
        return sorted(map(tuple, df.select(*cols).collect()))

    # EVERY store's full content, column by column (batch_id excluded —
    # identical by construction): curated docs, fingerprints, both band
    # stores, host edges
    for attr in (
        "curated_path",
        "fps_path",
        "phash_bands_path",
        "text_bands_path",
        "host_edges_path",
    ):
        assert rows(par, getattr(par, attr)) == rows(seq, getattr(seq, attr))
    # vector index: the union of all segment vectors, id -> components
    def vecs(ing):
        seg_root = os.path.join(ing.vector_index_path, "segments")
        out = {}
        for e in os.listdir(seg_root):
            if e.startswith("_") or not _has_parquet(
                os.path.join(seg_root, e, "vectors")
            ):
                continue
            for r in spark.read.parquet(
                os.path.join(seg_root, e, "vectors")
            ).collect():
                out[r["id"]] = list(r["v"])
        return out

    assert vecs(par) == vecs(seq)
    # text index: same segment count and same postings content
    def postings(ing):
        seg_root = os.path.join(ing.index_path, "segments")
        segs = [
            e
            for e in os.listdir(seg_root)
            if not e.startswith("_")
            and _has_parquet(os.path.join(seg_root, e, "postings"))
        ]
        if not segs:
            return []
        df = spark.read.parquet(
            *(os.path.join(seg_root, e, "postings") for e in segs)
        )
        cols = sorted(df.columns)
        return sorted(map(tuple, df.select(*cols).collect()))

    assert postings(par) == postings(seq)
    assert par.ingest_report(spark)["admitted"] == seq.ingest_report(spark)["admitted"]
    # per-stage walls recorded for every append plus the section total
    assert "store_appends_total" in par.last_stage_wall
    assert "fps_append" in par.last_stage_wall


def test_fully_deduped_batch_does_not_crash_observability(spark, tmp_path):
    """A batch whose every row is dropped before the later funnel taps
    (here: the only doc is a near-dup of a stored one) must still
    commit with an exact stats row. Before the r12 fix, AQE's
    empty-relation propagation pruned the CollectMetrics node of a
    zero-row tap, the ObservationManager completed the observation
    with a schemaless empty row, and Observation.get crashed the batch
    — a fully-deduplicated micro-batch killed the stream."""
    ing = CurationIngest(
        str(tmp_path), run_id="r1", media_dedup=True, media_near_dedup=True,
        text_near_dedup=True, text_index=True, vector_index=True,
        embed_dim=16, vector_n_lists=2, host_col="host",
        host_links_col="out_links",
    )
    import hashlib

    def payload(seed: str) -> bytes:
        # high-entropy distinct blobs: the fake phash backend can
        # legitimately band-match low-entropy repeated-byte payloads
        out = b""
        for j in range(40):
            out += hashlib.md5(f"{seed}|{j}".encode()).digest()
        return out

    schema = ("doc_id long, text string, payload binary, host string, "
              "out_links array<string>")
    ing.process_batch(
        spark.createDataFrame(
            [(0, _NEAR_A, payload("p0"), "h0", ["h1"]),
             (1, _OTHER, payload("p1"), "h1", ["h0"])],
            schema,
        ),
        batch_id=0,
    )
    # batch 1: ONLY a near-dup — zero survivors reach the media taps
    ing.process_batch(
        spark.createDataFrame(
            [(2, _NEAR_A2, payload("p2"), "h2", ["h0"])], schema
        ),
        batch_id=1,
    )
    rep = ing.ingest_report(spark)
    assert rep["n_batches"] == 2
    latest = rep["latest_batch"]
    assert latest["rows_in"] == 1 and latest["admitted"] == 0
    # the drop landed on the text-near-store gate, exactly
    assert latest["dropped_text_near_store"] == 1
    assert ing.curated(spark).count() == 2  # batch 1 admitted nothing


def test_compact_markers_gc_stale_tmp_only(spark, tmp_path):
    """A crashed _write_marker's .tmp leftover is GC'd by marker
    retention once it is old (kill -9 has no finally), while a YOUNG
    tmp — possibly an in-flight racing write — is left alone."""
    import os
    import time

    ing = CurationIngest(str(tmp_path), run_id="r1")
    ing.process_batch(_docs(spark, [(0, _NEAR_A)]), batch_id=0)
    old = os.path.join(ing.commits_path, "br1-9.tmp.deadbeef")
    young = os.path.join(ing.commits_path, "br1-8.tmp.cafebabe")
    for p in (old, young):
        with open(p, "w") as fh:
            fh.write("x")
    os.utime(old, (time.time() - 7200, time.time() - 7200))
    assert ing.compact_markers() == 1  # the real marker folded
    names = set(os.listdir(ing.commits_path))
    assert "br1-9.tmp.deadbeef" not in names  # stale tmp swept
    assert "br1-8.tmp.cafebabe" in names  # young tmp untouched
    assert ing._is_committed("br1-0")

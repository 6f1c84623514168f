"""End-to-end curation pipeline (operators/curation.py): the composed
scrub → langid → quality → near-dedup → pack funnel over a corpus with
planted PII, near-duplicates, repetitive boilerplate, and NULL text."""

import pytest

from pyspark.sql import functions as F

from adsb_clickhouse_spark.operators import curation as C


def _mk_docs(spark):
    base_en = (
        "the quick brown fox jumps over the lazy dog and runs to the river "
        "with great speed for the morning hunt is on as every fox knows"
    )
    base_fr = (
        "le renard brun rapide saute sur le chien et court dans les bois "
        "avec une grande vitesse du matin pour la chasse de la"
    )
    rows = [
        # 0/1: near-identical English pair (one token differs) -> near-dup
        (0, base_en, "en"),
        (1, base_en.replace("river", "stream"), "en"),
        # 2: distinct English doc
        (2, "the cat sat on the mat and looked out of the window for hours "
            "watching birds fly past in the autumn wind as leaves fell", "en"),
        # 3/4: differ ONLY by phone number -> dup after redaction
        (3, base_en + " call me at 555-123-4567 today", "en"),
        (4, base_en + " call me at 555-999-8888 today", "en"),
        # 5: French doc
        (5, base_fr, "fr"),
        # 6: repetitive boilerplate (one bigram loops) -> high dup_bigram_frac
        (6, " ".join(["click here"] * 30), "en"),
        # 7: PII-free short doc
        (7, "hello world this is a tiny note", "en"),
        # 8: NULL text
        (8, None, "en"),
        # 9: PII doc (email)
        (9, "the report is ready contact bob@example.com for the file and "
            "read it before the meeting starts tomorrow morning with the team", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture()
def docs(spark):
    return _mk_docs(spark)


def test_curation_funnel_and_dedup(spark, docs):
    res = C.curate_documents(
        docs,
        keep_langs=("en",),
        min_quality=0.1,
        max_dup_bigram_frac=0.8,
        dedup_threshold=0.5,
        pack_budget=32,
    )
    f = res.funnel()
    assert f["input"] == 10
    # dropped by policy: 5 (fr), 6 (repetitive), 8 (NULL -> quality 0)
    filtered_ids = {r["doc_id"] for r in res.filtered.select("doc_id").collect()}
    assert 5 not in filtered_ids          # language policy
    assert 6 not in filtered_ids          # Gopher repetition policy
    assert 8 not in filtered_ids          # empty doc scores 0 quality
    # near-dups keep the lowest id: 1 condemned by 0; 4 condemned by 3
    kept_ids = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    assert 0 in kept_ids and 1 not in kept_ids
    assert f["kept"] == f["filtered"] - f["dropped_dups"]
    assert kept_ids <= filtered_ids


def test_curation_redaction_then_dedup_catches_pii_variant_dups(spark, docs):
    """Docs 3 and 4 differ only in a phone number — after redaction both
    carry the same <PHONE> token, so the near-dup net catches them."""
    res = C.curate_documents(docs, dedup_threshold=0.5, pack_budget=64)
    dropped = {r["id"] for r in res.dropped_dups.collect()}
    # 3 and 4 redact to the SAME text; both sit in the 0/1/3/4 near-dup
    # component (3 adds only a few tokens to doc 0), whose head survives
    assert 4 in dropped and 0 not in dropped
    comp = {r["id"]: r["component"] for r in res.dropped_dups.collect()}
    assert comp[4] == 0 and comp.get(3, 0) == 0
    clean = {
        r["doc_id"]: r["clean_text"]
        for r in res.scored.select("doc_id", "clean_text").collect()
    }
    assert "<PHONE>" in clean[3] and "<PHONE>" in clean[4]
    assert "555-123-4567" not in clean[3]


def test_curation_drop_pii_policy(spark, docs):
    res = C.curate_documents(docs, drop_pii_docs=True)
    filtered_ids = {r["doc_id"] for r in res.filtered.select("doc_id").collect()}
    assert {3, 4, 9}.isdisjoint(filtered_ids)  # phone, phone, email docs
    assert 2 in filtered_ids


def test_curation_packing_matches_concat_and_chunk(spark, docs):
    """pack_id/pack_offset must equal the driver-side concat-and-chunk
    over the kept docs in doc_id order."""
    budget = 32
    res = C.curate_documents(docs, keep_langs=("en",), pack_budget=budget)
    rows = sorted(
        res.packed.select("doc_id", "n_tokens", "pack_id", "pack_offset").collect(),
        key=lambda r: r["doc_id"],
    )
    start = 0
    for r in rows:
        assert (r["pack_id"], r["pack_offset"]) == (start // budget, start % budget)
        start += r["n_tokens"]


def test_curation_lang_quota_is_hash_deterministic(spark, docs):
    a = C.curate_documents(docs, apply_lang_quota=True)
    b = C.curate_documents(docs, apply_lang_quota=True)
    ia = sorted(r["doc_id"] for r in a.filtered.select("doc_id").collect())
    ib = sorted(r["doc_id"] for r in b.filtered.select("doc_id").collect())
    assert ia == ib


def test_signal_builders_match_driver_rows(spark, docs):
    """langid_signals/quality_signals are the same computation the
    text_langid/text_quality driver rows run (those delegate here) —
    spot-check the signal semantics on a known corpus."""
    lang = {r["doc_id"]: r["predicted_lang"] for r in C.langid_signals(docs).collect()}
    assert lang[0] == "en" and lang[5] == "fr"
    qual = {r["doc_id"]: r for r in C.quality_signals(docs).collect()}
    assert qual[6]["dup_bigram_frac"] > 0.9        # looped boilerplate
    assert qual[2]["dup_bigram_frac"] <= 0.2
    assert qual[8]["quality_score"] == 0.0         # NULL text


def test_domain_mixture_alpha_one_is_natural_proportions(spark):
    """alpha=1 makes every domain's keep rate exactly budget_frac: the
    temperature-free mixture is a uniform downsample."""
    from adsb_clickhouse_spark.operators.curation import domain_mixture

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_mixture(d, alpha=1.0, budget_frac=0.5, mod=10000)
    rates = {r["source"]: r["mix_rate_bp"] for r in out.select("source", "mix_rate_bp").distinct().collect()}
    assert rates == {"big": 5000, "small": 5000}


def test_domain_mixture_flattens_toward_small_domains(spark):
    """alpha<1 upweights small domains: the small domain's rate strictly
    exceeds the big one's, and a tiny domain saturates at rate 1."""
    from adsb_clickhouse_spark.operators.curation import domain_mixture

    rows = (
        [(i, "big") for i in range(900)]
        + [(1000 + i, "small") for i in range(90)]
        + [(2000 + i, "tiny") for i in range(10)]
    )
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_mixture(d, alpha=0.5, budget_frac=0.5, mod=10000)
    rates = {r["source"]: r["mix_rate_bp"] for r in out.select("source", "mix_rate_bp").distinct().collect()}
    # sqrt weights: S = 30 + 9.49 + 3.16; small's target (111) exceeds
    # its 90 docs, so BOTH small domains saturate at rate 1 while the
    # big one is cut to ~39% — exactly the flattening alpha<1 buys
    assert rates["tiny"] == 10000 and rates["small"] == 10000
    assert rates["big"] < 4000
    kept = {r["source"]: r["n"] for r in out.filter("mix_keep").groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert kept["tiny"] == 10 and kept["small"] == 90
    assert 0 < kept["big"] < 450


def test_domain_mixture_budget_is_met_without_clipping(spark):
    """When no domain saturates, expected kept mass sums to
    budget_frac * N (rates weighted by domain size)."""
    from adsb_clickhouse_spark.operators.curation import domain_mixture

    rows = [(i, f"s{i % 4}") for i in range(400)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_mixture(d, alpha=0.5, budget_frac=0.25, mod=10000)
    per = out.select("source", "mix_rate_bp").distinct().collect()
    expected = sum(100 * r["mix_rate_bp"] / 10000 for r in per)
    assert abs(expected - 100) < 1  # 0.25 * 400, up to floor rounding


def test_dedup_aware_split_no_exact_dup_straddles(spark):
    """Byte-identical docs always land in the same split, splits are
    deterministic, and bucket boundaries map to the right names."""
    from adsb_clickhouse_spark.operators.curation import dedup_aware_split

    rows = [(i, f"unique document number {i}") for i in range(200)]
    rows += [(1000 + i, rows[i][1]) for i in range(50)]  # 50 exact dups
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_aware_split(d).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    for i in range(50):
        assert split_of[i] == split_of[1000 + i]
    buckets = {r["split_bucket"] for r in out}
    assert buckets <= set(range(10))
    names = {r["split_bucket"]: r["split"] for r in out}
    for b, s in names.items():
        assert s == ("train" if b < 8 else "val" if b == 8 else "test")
    # all three splits are populated at this corpus size
    assert {r["split"] for r in out} == {"train", "val", "test"}
    # re-running gives the identical assignment
    again = {r["doc_id"]: r["split"] for r in dedup_aware_split(d).collect()}
    assert again == split_of


def test_dedup_aware_split_near_dup_clusters_stay_together(spark):
    """With near-dup pair edges, whole connected clusters share one
    split even though their texts (and exact fingerprints) differ."""
    from adsb_clickhouse_spark.operators.curation import dedup_aware_split

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, f"{base} variant{i}") for i in range(20)]  # one big near-dup cluster
    rows += [(100 + i, f"totally unrelated text {i} " + " ".join(f"w{i}{j}" for j in range(8))) for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from adsb_clickhouse_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(d, threshold=0.5)
    out = dedup_aware_split(d, pairs=pairs).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    cluster = {split_of[i] for i in range(20)}
    assert len(cluster) == 1  # the whole near-dup cluster shares a split
    assert len(split_of) == 40


def test_curation_round6_stages_compose(spark, docs):
    """Domain mixture + substring excision + split assignment compose
    into the funnel: survivors' clean_text has corpus-duplicated 8-gram
    spans excised, every packed row carries a split, and no two docs
    with the same near-dup component straddle splits."""
    d = docs.withColumn(
        "source", F.when(F.col("doc_id") < 5, "web").otherwise("books")
    )
    res = C.curate_documents(
        d,
        apply_domain_mixture=True,
        mixture_alpha=1.0,
        mixture_budget_frac=1.0,  # rate 1.0 everywhere: mixture is a no-op gate
        remove_dup_substrings=8,
        assign_splits=True,
        pack_budget=64,
    )
    rows = res.packed.collect()
    assert rows and all(r["split"] in ("train", "val", "test") for r in rows)
    # docs 0 and 3 share the 24-token base_en prefix; if both survive
    # dedup, the shared 8-grams are corpus-duplicated and excised
    by_id = {r["doc_id"]: r for r in rows}
    survivors = set(by_id)
    shared_pair = {0, 3} & survivors
    if len(shared_pair) == 2:
        assert by_id[0]["n_dup_tokens"] > 0 and by_id[3]["n_dup_tokens"] > 0
    # mixture at rate 1.0 must not drop anyone the other policies kept
    base = C.curate_documents(d, pack_budget=64)
    assert {r["doc_id"] for r in base.packed.collect()} == survivors


def test_curation_max_quality_retention(spark, docs):
    """retention='max_quality' keeps the highest-quality member of each
    near-dup cluster instead of the lowest id: doc 3 (base_en + extra
    tokens) outscores doc 0 (longer docs score higher up to 100
    tokens), so with quality retention 3 survives and 0 drops; with the
    default min_id retention it's the other way around."""
    by_min = C.curate_documents(docs, dedup_threshold=0.5)
    by_q = C.curate_documents(docs, dedup_threshold=0.5, retention="max_quality")
    kept_min = {r["doc_id"] for r in by_min.kept.select("doc_id").collect()}
    kept_q = {r["doc_id"] for r in by_q.kept.select("doc_id").collect()}
    # same cluster structure: identical number of survivors
    assert len(kept_min) == len(kept_q)
    assert 0 in kept_min and 3 not in kept_min
    qual = {r["doc_id"]: r["quality_score"] for r in C.quality_signals(docs).collect()}
    assert qual[3] > qual[0]
    assert 3 in kept_q and 0 not in kept_q
    # exactly one survivor per cluster either way
    comp_min = {r["id"] for r in by_min.dropped_dups.collect()}
    comp_q = {r["id"] for r in by_q.dropped_dups.collect()}
    assert len(comp_min) == len(comp_q)


def test_curation_bad_retention_raises(spark, docs):
    with pytest.raises(ValueError):
        C.curate_documents(docs, retention="newest")


def test_write_training_shards_roundtrip_and_manifest(spark, docs, tmp_path):
    """Sharded export: deterministic pack->shard mapping, JSONL files
    one directory per shard, manifest counts equal to the data, and a
    lossless read-back."""
    from adsb_clickhouse_spark.operators.packing import write_training_shards

    res = C.curate_documents(docs, pack_budget=16)
    out = str(tmp_path / "shards")
    manifest = write_training_shards(res.packed, out, packs_per_shard=2)
    assert manifest["n_shards"] >= 2
    assert manifest["total_rows"] == res.packed.count()
    back = spark.read.json(out)
    assert back.count() == manifest["total_rows"]
    # shard assignment is pack_id div packs_per_shard, verifiable on read
    rows = back.select("doc_id", "pack_id", "shard_id").collect()
    assert all(r["shard_id"] == r["pack_id"] // 2 for r in rows)
    # per-shard manifest rows match the files on disk
    by_shard = {}
    for r in rows:
        by_shard[r["shard_id"]] = by_shard.get(r["shard_id"], 0) + 1
    assert by_shard == {s["shard_id"]: s["rows"] for s in manifest["shards"]}
    import json as _json
    import os

    disk = _json.load(open(os.path.join(out, "_manifest.json")))
    assert disk == manifest


def test_corpus_report_data_card(spark, docs):
    """The cube report: leaf cells sum to the grand total, dup share
    counts both members of the exact-dup pair (docs 3/4 redact... no —
    3/4 differ pre-redaction; the report works on RAW text, so only
    identical raw texts count), PII docs counted, token mass positive."""
    d = docs.withColumn(
        "source", F.when(F.col("doc_id") < 5, "web").otherwise("books")
    )
    rows = C.corpus_report(d).collect()
    total = [r for r in rows if r["predicted_lang"] is None and r["domain"] is None]
    assert len(total) == 1 and total[0]["n_docs"] == 10
    leaves = [r for r in rows if r["predicted_lang"] is not None and r["domain"] is not None]
    assert sum(r["n_docs"] for r in leaves) == 10
    assert total[0]["n_pii_docs"] == 3  # docs 3, 4 (phones), 9 (email)
    assert total[0]["n_exact_dup_docs"] == 0  # no byte-identical raw texts
    assert total[0]["n_tokens"] > 100
    # planted an exact dup -> both members counted
    d2 = d.union(d.filter(F.col("doc_id") == 2).withColumn("doc_id", F.lit(99)))
    t2 = [
        r
        for r in C.corpus_report(d2).collect()
        if r["predicted_lang"] is None and r["domain"] is None
    ][0]
    assert t2["n_exact_dup_docs"] == 2


def test_curated_layout_split_read_prunes_partitions(spark, docs, tmp_path):
    """The stored curated corpus prunes to the requested split/lang at
    the PLAN level: the train read's scan lists only split=train
    directories (PartitionFilters), never scan-then-filter."""
    from adsb_clickhouse_spark.operators.layout import (
        read_curated_split,
        write_curated_layout,
    )

    res = C.curate_documents(docs, assign_splits=True, pack_budget=64)
    curated = res.packed.select(
        "doc_id", "clean_text", "predicted_lang", "split", "pack_id"
    )
    out = str(tmp_path / "corpus")
    write_curated_layout(curated, out)
    train = read_curated_split(spark, out, split="train", langs=["en"])
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns exactly the train/en rows of the full set
    full = {
        (r["doc_id"])
        for r in curated.filter(
            (F.col("split") == "train") & (F.col("predicted_lang") == "en")
        ).collect()
    }
    assert {r["doc_id"] for r in train.collect()} == full


def test_vocab_coverage_ranks_and_oov(spark):
    """Known frequencies: 'a'x6, 'b'x3, 'c'x1 -> ranks 1/2/3, coverage
    0.6/0.9/1.0; top_k=2 keeps a,b and coverage still divides by the
    FULL corpus mass (so 1 - last coverage = OOV rate of the clipped
    vocab)."""
    from adsb_clickhouse_spark.operators.curation import vocab_coverage

    d = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b c"), (3, "a a b")], "doc_id long, text string"
    )
    full = {r["token"]: r for r in vocab_coverage(d, top_k=10).collect()}
    assert (full["a"]["rank"], full["b"]["rank"], full["c"]["rank"]) == (1, 2, 3)
    assert [full[t]["cum_coverage"] for t in "abc"] == [0.6, 0.9, 1.0]
    clipped = vocab_coverage(d, top_k=2).collect()
    assert [r["token"] for r in sorted(clipped, key=lambda r: r["rank"])] == ["a", "b"]
    assert max(r["cum_coverage"] for r in clipped) == 0.9  # 10% OOV at k=2


def test_substring_excision_preserves_untouched_docs_byte_exact(spark):
    """remove_dup_substrings must rewrite ONLY docs with an actual
    excision — a doc with zero duplicated spans keeps its clean_text
    byte-exactly (r6 advice: dedup_text is tokens() re-joined, which
    lossy-normalizes case and punctuation)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, f"{shared} first tail one two three four five six seven"),
        (1, f"{shared} second tail eight nine ten eleven twelve thirteen"),
        (2, "An Untouched, punctuated Document! With CAPS and enough words."),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    res = C.curate_documents(d, lang_col=None, remove_dup_substrings=8, dedup_threshold=0.95)
    out = {r["doc_id"]: r["clean_text"] for r in res.kept.collect()}
    assert out[2] == rows[2][1]  # byte-exact, caps and punctuation intact
    # the docs sharing an 8-gram did get excised
    assert "alpha" not in out[0] and "alpha" not in out[1]


def test_domain_mixture_null_domain_not_dropped(spark):
    """NULL domains are their own mixture group, not silently dropped
    (r6 advice: NULL group keys don't equi-join)."""
    rows = [(i, "web" if i < 6 else None) for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = C.domain_mixture(d, alpha=1.0, budget_frac=1.0)
    assert out.count() == 10
    nulls = out.filter(F.col("source").isNull())
    assert nulls.count() == 4
    # alpha=1, budget=1 -> every group keeps everything
    assert nulls.filter(~F.col("mix_keep")).count() == 0
    # and the full funnel keeps NULL-source docs too
    docs = spark.createDataFrame(
        [
            (i, f"document number {i} with plenty of english words the and of to in", s)
            for i, s in rows
        ],
        "doc_id long, text string, source string",
    )
    res = C.curate_documents(
        docs,
        lang_col=None,
        apply_domain_mixture=True,
        mixture_alpha=1.0,
        mixture_budget_frac=1.0,
        dedup_threshold=0.95,
    )
    assert res.scored.count() == 10


def test_shard_manifest_lands_via_hadoop_fs_uri(spark, docs, tmp_path):
    """write_training_shards writes its manifest through the Hadoop FS
    API: a file:/ URI destination gets the manifest next to the shards
    (r6 verdict #4 — object-store-safe, no local open())."""
    import json as _json
    import os

    from adsb_clickhouse_spark.operators.packing import write_training_shards

    res = C.curate_documents(docs, pack_budget=16)
    local = tmp_path / "shards_uri"
    manifest = write_training_shards(
        res.packed, f"file://{local}", packs_per_shard=2
    )
    disk = _json.load(open(os.path.join(str(local), "_manifest.json")))
    assert disk == manifest
    assert spark.read.json(f"file://{local}").count() == manifest["total_rows"]


def test_curated_layout_append_and_compact(spark, docs, tmp_path):
    """Appended-per-run curated layouts accrete small files; the
    compaction folds each leaf partition back to target_files with the
    directory names (and so partition pruning) untouched."""
    import os

    from adsb_clickhouse_spark.operators.layout import (
        append_curated_layout,
        compact_curated_layout,
        read_curated_split,
    )

    res = C.curate_documents(docs, assign_splits=True, pack_budget=64)
    curated = res.packed.select(
        "doc_id", "clean_text", "predicted_lang", "split", "pack_id"
    )
    out = str(tmp_path / "corpus")
    for _ in range(3):  # three curation runs appending to one layout
        append_curated_layout(curated.repartition(2), out)
    n_rows = curated.count()
    full = spark.read.parquet(out)
    assert full.count() == 3 * n_rows

    def leaf_files():
        counts = {}
        for sp in os.listdir(out):
            if not sp.startswith("split="):
                continue
            for lg in os.listdir(os.path.join(out, sp)):
                if not lg.startswith("predicted_lang="):
                    continue
                leaf = os.path.join(out, sp, lg)
                counts[f"{sp}/{lg}"] = len(
                    [e for e in os.listdir(leaf) if e.endswith(".parquet")]
                )
        return counts

    before = leaf_files()
    assert any(v > 1 for v in before.values())
    stats = compact_curated_layout(spark, out, target_files=1)
    after = leaf_files()
    assert all(v == 1 for v in after.values())
    assert all(s["files_after"] == 1 for s in stats.values())
    # rows intact and pruning still pins at the plan level
    assert spark.read.parquet(out).count() == 3 * n_rows
    some_split = sorted(
        r["split"] for r in curated.select("split").distinct().collect()
    )[0]
    pruned = read_curated_split(spark, out, split=some_split, langs=["en"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split" in plan.split("PartitionFilters")[1][:200]


def test_cluster_mixture_flattens_semantic_skew(spark):
    """domain_mixture without labels: IVF-learned clusters get the
    temperature rate law; the dominant semantic region is downsampled
    while small regions keep everything."""
    import hashlib

    import numpy as np

    from adsb_clickhouse_spark.operators.curation import (
        CLUSTER_MIX_SALT,
        SAMPLE_MOD,
        cluster_mixture,
    )

    rng = np.random.RandomState(5)
    centers = {0: np.array([10.0, 0, 0, 0]), 1: np.array([0, 10.0, 0, 0]),
               2: np.array([0, 0, 10.0, 0])}
    sizes = {0: 800, 1: 150, 2: 50}
    rows, i = [], 0
    truth = {}
    for c, n in sizes.items():
        for _ in range(n):
            v = centers[c] + rng.randn(4) * 0.1
            rows.append((i, [float(x) for x in v]))
            truth[i] = c
            i += 1
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cluster_mixture(embs, n_lists=3, iters=3, alpha=0.5, budget_frac=0.5)
    got = out.collect()
    assert len(got) == 1000
    # rate law: per learned cluster, rate_bp = floor(min(1, c^a/s * B*n/c) * mod)
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r["list_id"], []).append(r)
    counts = {li: len(rs) for li, rs in by_cluster.items()}
    # the md5-seeded k-means may merge nearby regions; the rate law is
    # asserted per LEARNED cluster, the flattening per TRUE region
    assert max(counts.values()) == 800  # the dominant region is its own cluster
    s = sum(c ** 0.5 for c in counts.values())
    n = sum(counts.values())
    for li, rs in by_cluster.items():
        c = counts[li]
        want_bp = int((min(1.0, c ** 0.5 / s * 0.5 * n / c)) * SAMPLE_MOD)
        assert all(r["mix_rate_bp"] == want_bp for r in rs)
        # keep decision is the salted hash quota, row by row
        for r in rs[:5]:
            h = int(hashlib.md5(
                f"{CLUSTER_MIX_SALT}|{r['doc_id']}".encode()
            ).hexdigest()[:15], 16) % SAMPLE_MOD
            assert r["mix_keep"] == (h < want_bp)
    # flattening: the dominant TRUE region is cut hard, the smallest
    # keeps a much larger share
    keep_by_truth = {}
    for r in got:
        keep_by_truth.setdefault(truth[r["doc_id"]], []).append(r["mix_keep"])
    rate_of = {c: sum(v) / len(v) for c, v in keep_by_truth.items()}
    assert rate_of[0] < 0.55
    assert rate_of[2] > rate_of[0] + 0.2


def test_cluster_mixture_accepts_stored_assignments(spark):
    from adsb_clickhouse_spark.operators.curation import cluster_mixture
    from adsb_clickhouse_spark.operators.similarity import ivf_build

    rows = [(i, [float(i % 3), float((i * 7) % 5), 1.0]) for i in range(60)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assign, _ = ivf_build(embs, n_lists=4, iters=2)
    a = cluster_mixture(embs, n_lists=4, iters=2).collect()
    b = cluster_mixture(embs, assignments=assign).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}


def _media_payloads():
    # blockhash geometry (64 blocks of 10 bytes): A==A exact dup; B vs Bp
    # differ in one block (hamming 2 — verified in-test below); every
    # other pair is >= 28 bits apart
    A = bytes((i * 37 + (i // 10) * 11) % 256 for i in range(640))
    B = bytes((i * 91 + 7) % 256 for i in range(640))
    Bp = bytearray(B)
    for j in range(5):
        Bp[j] = 255
    pc = bytes((i * 53 + 101) % 256 for i in range(640))
    D = bytes((i * 29 + 3) % 256 for i in range(640))
    return A, B, bytes(Bp), pc, D


def test_curation_media_dedup_collapses_copies_keeps_distinct(spark):
    """Media as a curation citizen: exact payload copies and perceptual
    near-copies collapse through the same component graph as text dups;
    distinct media and NULL-payload docs survive untouched."""
    A, B, Bp, PC, D = _media_payloads()
    texts = [
        "alpha document about rivers and bridges spanning the valley floor",
        "beta text concerning orchards apples and the autumn harvest yield",
        "gamma notes on compilers register allocation and loop unrolling",
        "delta memo regarding shipping manifests customs and port schedules",
        "epsilon essay on tidal patterns lunar cycles and coastal erosion",
        "zeta report about alpine weather snowfall accumulation and risk",
        "eta article on pottery kiln temperatures and ceramic glazing",
        "theta survey of migratory birds wetland habitats and ring data",
    ]
    rows = [
        (0, texts[0], A), (1, texts[1], A),     # exact media dup -> 1 drops
        (2, texts[2], B), (3, texts[3], Bp),    # perceptual dup  -> 3 drops
        (4, texts[4], PC), (5, texts[5], D),     # distinct media  -> survive
        (6, texts[6], None), (7, texts[7], None),  # no media -> exempt
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, payload binary"
    )
    res = C.curate_documents(
        docs, lang_col=None, media_col="payload", pack_budget=64
    )
    kept = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    assert kept == {0, 2, 4, 5, 6, 7}
    dropped = {r["id"] for r in res.dropped_dups.collect()}
    assert dropped == {1, 3}


def test_curation_media_dedup_max_quality_retention(spark):
    """The media component graph obeys the same retention policies: with
    max_quality the longer (higher-scoring) member of a media-dup pair
    survives even though its id is larger."""
    A, B, Bp, PC, D = _media_payloads()
    short = "tiny note about one thing"
    long_ = (
        "a substantially longer and wordier document holding many distinct "
        "tokens about architecture bridges tunnels aqueducts and the crews "
        "who maintain them across seasons of frost heat and flooding rain"
    )
    docs = spark.createDataFrame(
        [(0, short, A), (1, long_, A), (2, "unrelated body of text", PC)],
        "doc_id long, text string, payload binary",
    )
    res = C.curate_documents(
        docs, lang_col=None, media_col="payload", retention="max_quality",
        pack_budget=64,
    )
    kept = {r["doc_id"] for r in res.kept.select("doc_id").collect()}
    assert kept == {1, 2}

# --------------------------------------------------------- host-graph gate


def _mk_host_docs(spark):
    """10 docs over a 6-host web: a vetted seed host links into a 'good'
    cluster (seed -> good1 -> good2 -> good1), while spamA <-> spamB
    link only each other — unreachable from the seed, so TrustRank
    converges to exactly 0 there. 'lonely' has no links at all (absent
    from the graph entirely)."""
    links = {
        "seed": ["good1"],
        "good1": ["good2"],
        "good2": ["good1"],
        "spamA": ["spamB"],
        "spamB": ["spamA"],
        "lonely": [],
    }
    texts = [
        "maps of rivers and stone bridges drawn by hand over many winters",
        "register allocation in optimizing compilers and loop unrolling notes",
        "a field guide to alpine wildflowers and the bees that visit them",
        "harbor tide tables and the schedule of the evening ferry crossings",
        "buy cheap pills now amazing deal click the link for instant offers",
        "winners claim your prize today limited time free money guaranteed",
        "casino bonus spins deposit match jackpot withdraw instantly today",
        "a quiet essay on letter writing and the slowness of paper mail",
    ]
    rows = []
    for i, host in enumerate(
        ["seed", "good1", "good1", "good2", "spamA", "spamA", "spamB", "lonely"]
    ):
        rows.append((i, texts[i], host, links[host]))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, out_links array<string>"
    )


def test_curation_host_trust_gate_drops_spam_component(spark):
    docs = _mk_host_docs(spark)
    res = C.curate_documents(
        docs,
        lang_col=None,
        host_col="source",
        host_links_col="out_links",
        host_trust_seeds=["seed"],
        dedup_threshold=0.9,
    )
    kept = {r["doc_id"] for r in res.kept.collect()}
    # spam component (docs 4,5,6) unreachable from the seed -> dropped;
    # 'lonely' has no edges -> absent from the graph -> NULL trust -> dropped
    assert kept == {0, 1, 2, 3}
    # every scored row carries both rank columns; spam hosts have rank>0
    # under plain PageRank but exactly 0 under TrustRank
    sc = {r["doc_id"]: r for r in res.scored.collect()}
    assert sc[4]["host_pagerank_fp"] > 0
    assert sc[4]["host_trustrank_fp"] == 0
    assert sc[0]["host_trustrank_fp"] > 0
    assert sc[7]["host_pagerank_fp"] is None  # lonely: not a graph node


def test_curation_host_rank_percentile_gate(spark):
    docs = _mk_host_docs(spark)
    # good1 has two in-links (seed, good2); rank-gate at a percentile
    # that keeps only the top host(s)
    res = C.curate_documents(
        docs,
        lang_col=None,
        host_col="source",
        host_links_col="out_links",
        host_min_rank_pct=0.8,
        dedup_threshold=0.9,
    )
    kept_hosts = {r["source"] for r in res.kept.join(
        docs.select("doc_id", "source"), "doc_id").collect()}
    assert "good1" in kept_hosts
    assert "lonely" not in kept_hosts  # NULL rank fails the gate


def test_curation_precomputed_host_ranks(spark):
    """The streaming path: a stored (host, rank) generation passed in —
    no propagation runs inside the funnel; the trust gate still
    composes off the supplied columns."""
    docs = _mk_host_docs(spark)
    ranks = spark.createDataFrame(
        [("seed", 100, 50), ("good1", 200, 80), ("good2", 150, 40),
         ("spamA", 300, 0), ("spamB", 250, 0)],
        "host string, host_pagerank_fp long, host_trustrank_fp long",
    )
    res = C.curate_documents(
        docs, lang_col=None, host_col="source", host_ranks=ranks,
        dedup_threshold=0.9,
    )
    kept = {r["doc_id"] for r in res.kept.collect()}
    assert kept == {0, 1, 2, 3}


def test_curation_host_col_without_graph_raises(spark):
    docs = _mk_host_docs(spark)
    with pytest.raises(ValueError, match="host_col given but neither"):
        C.curate_documents(docs, lang_col=None, host_col="source")


def test_fuse_projective_outputs_identical_to_join_form(spark):
    """The r11 column-wise composition of the projective stages (scrub +
    langid + host attach) is a pure plan change: every funnel output —
    scored rows including redacted text and rank columns, kept set,
    packed rows — must be IDENTICAL to the pre-r11 doc_id self-join
    idiom (also A/B'd at 300k docs by the curation_scale scenario: equal
    counts, fused 19% faster)."""
    docs = _mk_host_docs(spark)
    a = C.curate_documents(
        docs, lang_col=None, host_col="source", host_links_col="out_links",
        host_trust_seeds=["seed"], dedup_threshold=0.9,
        fuse_projective=True,
    )
    b = C.curate_documents(
        docs, lang_col=None, host_col="source", host_links_col="out_links",
        host_trust_seeds=["seed"], dedup_threshold=0.9,
        fuse_projective=False,
    )
    cols = sorted(set(a.scored.columns) & set(b.scored.columns))
    assert sorted(a.scored.columns) == sorted(b.scored.columns)
    sa = sorted(map(tuple, a.scored.select(*cols).collect()))
    sb = sorted(map(tuple, b.scored.select(*cols).collect()))
    assert sa == sb
    ka = sorted(r["doc_id"] for r in a.kept.collect())
    kb = sorted(r["doc_id"] for r in b.kept.collect())
    assert ka == kb
    pa = sorted(map(tuple, a.packed.select(sorted(a.packed.columns)).collect()))
    pb = sorted(map(tuple, b.packed.select(sorted(b.packed.columns)).collect()))
    assert pa == pb

"""Adversarial-corpus oracle parity for the text family.

The driver gate runs the text queries on well-behaved synthetic prose;
this suite re-runs every text-family (and shingle-dedup) oracle pair on
a corpus of pathological documents — empty, whitespace-only, shorter
than the shingle/winnow gram width, unicode (accents, CJK, emoji),
regex metacharacters, digit runs, single-char repetition — and asserts
the same rowcount/schema/value-hash match the gate computes. Pins the
Java-regex-vs-RE2 dialect discipline (TOKEN_RE, PII-free subset) and
every length-edge branch (greatest(...,1) guards) across both engines.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_correctness import value_hash

EDGE_DOCS = [
    (0, "", "en", "edge", 0),
    (1, " ", "en", "edge", 1),
    (2, "\t\n  \n", "en", "edge", 5),
    (3, "a", "en", "edge", 1),
    (4, "ab", "en", "edge", 2),
    (5, "short", "en", "edge", 5),
    (6, "exactly8", "en", "edge", 8),
    (7, "the the the the the the the the", "en", "edge", 31),
    (8, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "en", "edge", 32),
    (9, "1234567890 9876543210 000", "en", "edge", 25),
    (10, "naïve café résumé über garçon", "fr", "edge", 29),
    (11, "日本語のテキスト 中文文本 한국어", "en", "edge", 17),
    (12, "emoji 🎉 party 🎉🎉 time", "en", "edge", 22),
    (13, "regex meta .* +? [a-z] (x|y) \\ $^ {2,3}", "en", "edge", 39),
    (14, "el la de que y en los se del las palabras", "es", "edge", 41),
    (15, "der die und das ist von mit den im für wort", "de", "edge", 43),
    (16, "mixed UPPER lower 123 punct!!! end.", "en", "edge", 35),
    (17, "a b c d e f g h i j k l m n o p q r s t", "en", "edge", 39),
    (18, "word " * 200, "en", "edge", 1000),
    (19, None, "en", "edge", 0),  # NULL text: tokenizes as empty (contract)
    # 20/21: share an 8+-token run at different offsets — exercises the
    # duplicated-substring branch (merged spans, excised text) cross-doc
    (20, "unique lead in tokens shared run alpha beta gamma delta epsilon zeta eta theta trailing bits", "en", "edge", 95),
    (21, "other opening shared run alpha beta gamma delta epsilon zeta eta theta and a different tail", "en", "edge", 92),
    # 22: one token repeated way past the 8-gram width — every position
    # covered by a WITHIN-DOC duplicated gram, dedup_text must go empty
    (22, "loop " * 40, "en", "edge", 200),
]

TEXT_QUERIES = [
    "text_token_stats",
    "text_langid",
    "text_quality",
    "text_winnow_fingerprint",
    # edge corpus has no 'src0' docs -> EMPTY target corpus: the add-1
    # smoothing must keep every log ratio defined in both engines
    "text_dsir_select",
    "dedup_exact",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_ngram_prefix_filter",
]


@pytest.fixture(scope="module")
def edge_sf_dir(spark, tmp_path_factory):
    """A fake sf dir holding only the adversarial documents table (the
    text/dedup queries read nothing else)."""
    base = str(tmp_path_factory.mktemp("edge_sf"))
    df = spark.createDataFrame(
        EDGE_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # single file so DuckDB can read the same path glob-free
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "documents.parquet"))
    return base


@pytest.mark.parametrize("name", TEXT_QUERIES)
def test_edge_corpus_oracle_parity(spark, edge_sf_dir, name):
    sdf = entry_mod.queries()[name](spark, edge_sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute("SET memory_limit='12GB'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_sf_dir}/documents.parquet/*.parquet'"
    )
    res = con.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert len(srows) == len(drows), f"rowcount spark={len(srows)} duckdb={len(drows)}"
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)


SIM_QUERIES = ["sim_knn_bruteforce", "sim_ann_lsh", "sim_cosine_near_dup"]


@pytest.fixture(scope="module")
def edge_emb_dir(spark, tmp_path_factory):
    """Embeddings with adversarial rows: a zero vector as a QUERY id (3)
    and as a corpus id (6), tiny-magnitude and negative vectors, plus
    clustered normals — pins the zero-norm exclusion contract on both
    engines (Spark ANSI mode would otherwise hard-fail DIVIDE_BY_ZERO)."""
    import math

    base = str(tmp_path_factory.mktemp("edge_emb"))
    dim = 64
    rows = []
    for vid in range(20):
        if vid in (3, 6):
            vec = [0.0] * dim  # zero-norm: excluded by contract
        elif vid == 7:
            vec = [1e-12] * dim  # tiny but directional: kept
        else:
            c = vid % 4
            vec = [math.sin(0.1 * (i + 1) * (c + 1)) + (0.01 * vid if i == 0 else 0.0)
                   for i in range(dim)]
        rows.append((vid, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "embeddings.parquet"))
    # sim_cosine_near_dup's 'hembed' branch (r11) reads documents too:
    # give it adversarial texts — NULL/empty (no tokens -> no vector),
    # a near-identical pair (must land at cosine ~1 in both engines)
    docs = [
        (0, "rivers and stone bridges drawn patiently over many long winters"),
        (1, "rivers and stone bridges drawn patiently over many cold winters"),
        (2, "register allocation interacts with instruction scheduling badly"),
        (3, None),
        (4, ""),
        (5, "税関 🎉 ünïcode only—no ascii tokens here? 123"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "documents.parquet"))
    return base


@pytest.mark.parametrize("name", SIM_QUERIES)
def test_edge_embeddings_oracle_parity(spark, edge_emb_dir, name):
    sdf = entry_mod.queries()[name](spark, edge_emb_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert srows, "edge corpus must produce rows (zero vectors excluded, not fatal)"
    # the zero-norm ids never appear on either side of any result
    for r in srows:
        d = dict(zip(scols, r))
        for c in ("query_id", "neighbor_id", "id_a", "id_b"):
            if c in d:
                assert d[c] not in (3, 6), f"zero vector {d[c]} leaked into {name}"

    con = duckdb.connect()
    con.execute("SET memory_limit='12GB'")
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{edge_emb_dir}/embeddings.parquet/*.parquet'"
    )
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_emb_dir}/documents.parquet/*.parquet'"
    )
    res = con.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"rowcount spark={len(srows)} duckdb={len(drows)}"
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)


@pytest.fixture(scope="module")
def fuzz_sf_dir(spark, tmp_path_factory):
    """200 seeded-random documents over printable ASCII + unicode
    sprinkles — the fuzzing complement to the hand-picked EDGE_DOCS."""
    import random

    rng = random.Random(20260813)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyz" "ABCDEFGH" "0123456789"
        " " * 20 + ".,!?;:()[]{}<>@#$%^&*-_=+|~`'\"\\/" + "éüñ日本🎉"
    )
    docs = []
    for i in range(200):
        n = rng.randint(0, 120)
        docs.append((i, "".join(rng.choice(alphabet) for _ in range(n)),
                     rng.choice(["en", "es", "de", "fr"]), "fuzz", n))
    base = str(tmp_path_factory.mktemp("fuzz_sf"))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "documents.parquet"))
    return base


@pytest.mark.parametrize("name", TEXT_QUERIES)
def test_fuzz_corpus_oracle_parity(spark, fuzz_sf_dir, name):
    sdf = entry_mod.queries()[name](spark, fuzz_sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute("SET memory_limit='12GB'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{fuzz_sf_dir}/documents.parquet/*.parquet'"
    )
    res = con.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"rowcount spark={len(srows)} duckdb={len(drows)}"
    assert value_hash(scols, srows) == value_hash(dcols, drows)


@pytest.fixture(scope="module")
def edge_retrieval_dir(spark, edge_sf_dir, edge_emb_dir, tmp_path_factory):
    """Both adversarial tables in one sf dir: the retrieval union reads
    documents (bm25/phrase legs) AND embeddings (knn leg)."""
    import shutil

    base = str(tmp_path_factory.mktemp("edge_retrieval"))
    shutil.copytree(
        os.path.join(edge_sf_dir, "documents.parquet"),
        os.path.join(base, "documents.parquet"),
    )
    shutil.copytree(
        os.path.join(edge_emb_dir, "embeddings.parquet"),
        os.path.join(base, "embeddings.parquet"),
    )
    return base


def test_edge_retrieval_oracle_parity(spark, edge_retrieval_dir):
    """search_retrieval on the adversarial tables: the bm25 and phrase
    legs see a corpus where the query terms barely/never occur (top-k
    of nothing must be empty on BOTH engines, not an error), the knn
    leg sees zero-norm vectors (excluded by contract), and the hybrid
    fusion must survive one leg being empty."""
    name = "search_retrieval"
    sdf = entry_mod.queries()[name](spark, edge_retrieval_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert srows, "the knn leg must still produce hybrid rows"

    con = duckdb.connect()
    con.execute("SET memory_limit='12GB'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_retrieval_dir}/documents.parquet/*.parquet'"
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{edge_retrieval_dir}/embeddings.parquet/*.parquet'"
    )
    res = con.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"rowcount spark={len(srows)} duckdb={len(drows)}"
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)

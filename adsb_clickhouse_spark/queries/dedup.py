"""Dedup-operator queries over the `documents` table, each with an exact
DuckDB oracle (cross-engine md5 hashing — functions/texttools.py).

The sf0.01 documents table has no byte-identical rows, so the exact-dedup
query runs on a corpus salted with known copies (doc_id+100000) — the
operator is exercised with non-empty output in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.texttools import duck_md5_long, duck_tokens, duck_word_shingles
from ..operators import dedup as D
from . import load_table, register

_K, _BANDS, _W = 16, 4, 3

_DUCK_CORPUS = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20"
)

_DUCK_SHINGLES = (
    f"WITH docs AS (SELECT doc_id AS id, {duck_tokens('text')} AS toks FROM documents), "
    f"sh AS (SELECT id, unnest(list_transform({duck_word_shingles('toks', _W)}, "
    f"s -> {duck_md5_long('s')})) AS h FROM docs)"
)


def _spark_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


# Line-dedup corpus: the synthetic texts have no newlines, so both
# engines append the SAME planted lines to every document — a universal
# banner (df = corpus size; even/odd docs carry different raw whitespace
# so the trim normalization is exercised), 7 medium-frequency copyright
# variants (df ≈ n/7), and one unique footer per doc (df = 1, must
# survive). With min_doc_freq=30 the banner and copyright lines are
# boilerplate at sf0.01+ while every unique footer and original text
# line is kept.
_LINE_MIN_DF = 30

_DUCK_LINE_CORPUS = """
    SELECT doc_id,
           coalesce(text, '') || chr(10) ||
           (CASE WHEN doc_id % 2 = 0 THEN 'FOLLOW US ON SOCIAL MEDIA'
                 ELSE ' FOLLOW US ON SOCIAL MEDIA ' END) || chr(10) ||
           'Copyright ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
           'ref ' || CAST(doc_id AS VARCHAR) AS text
    FROM documents
"""


def _spark_line_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    banner = F.when(
        F.col("doc_id") % 2 == 0, F.lit("FOLLOW US ON SOCIAL MEDIA")
    ).otherwise(F.lit(" FOLLOW US ON SOCIAL MEDIA "))
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.coalesce(F.col("text"), F.lit("")),
            banner,
            F.concat(F.lit("Copyright "), (F.col("doc_id") % 7).cast("string")),
            F.concat(F.lit("ref "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )


@register(
    "dedup_exact",
    f"""
    WITH corpus AS ({_DUCK_CORPUS}),
    fp AS (SELECT doc_id, md5(coalesce(text, '')) AS f FROM corpus),
    g AS (SELECT f, count(*) AS n_docs, min(doc_id) AS canonical_id
          FROM fp GROUP BY f HAVING count(*) > 1),
    line_corpus AS ({_DUCK_LINE_CORPUS}),
    parts AS (SELECT doc_id,
                     unnest(list_transform(
                         string_split(coalesce(text, ''), chr(10)),
                         (x, i) -> struct_pack(pos := i, ln := x))) AS u
              FROM line_corpus),
    l AS (SELECT doc_id, u.pos AS pos, u.ln AS ln, md5(trim(u.ln)) AS k
          FROM parts),
    boiler AS (SELECT k FROM (SELECT k, count(DISTINCT doc_id) AS df
                              FROM l WHERE trim(ln) <> '' GROUP BY k)
               WHERE df >= {_LINE_MIN_DF}),
    m AS (SELECT l.doc_id, l.pos, l.ln, (b.k IS NOT NULL) AS rm
          FROM l LEFT JOIN boiler b ON l.k = b.k),
    la AS (SELECT doc_id,
                  coalesce(string_agg(ln, chr(10) ORDER BY pos)
                           FILTER (WHERE NOT rm), '') AS text_clean,
                  count(*) FILTER (WHERE NOT rm) AS n_kept,
                  count(*) FILTER (WHERE rm) AS n_removed
           FROM m GROUP BY doc_id)
    SELECT 'doc' AS branch, g.f AS fingerprint, g.n_docs AS n_docs,
           g.canonical_id AS canonical_id, fp.doc_id AS dup_id,
           CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_kept,
           CAST(NULL AS BIGINT) AS n_removed
    FROM g JOIN fp ON fp.f = g.f AND fp.doc_id != g.canonical_id
    UNION ALL
    SELECT 'line', md5(text_clean), NULL, NULL, NULL,
           doc_id, n_kept, n_removed
    FROM la
    ORDER BY branch, fingerprint, dup_id, doc_id
    """,
    doc=(
        "Tagged union. 'doc' = exact dedup: md5-fingerprint hash-groupBy, "
        "min-id canonical, one dup row per non-canonical member. 'line' = "
        "RefinedWeb-style line-level boilerplate removal "
        "(operators/dedup.py::boilerplate_line_removal): lines whose "
        "trimmed form appears in >= 30 distinct docs are excised and the "
        "doc reassembled in order; the oracle pins the md5 of every "
        "reassembled text plus kept/removed line counts over a corpus "
        "with planted banner/copyright/unique-footer lines. Scale: both "
        "branches shuffle only 16-byte md5 keys; the line branch's "
        "boilerplate join is the AQE-skew-split case (hot banner keys, "
        "one build row per key)."
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _spark_corpus(spark, sf_dir)
    groups = D.exact_duplicates(corpus)
    nul = F.lit(None).cast("long")
    d = (
        groups.select("fingerprint", "n_docs", "canonical_id", F.explode("doc_ids").alias("dup_id"))
        .filter(F.col("dup_id") != F.col("canonical_id"))
        .select(
            F.lit("doc").alias("branch"),
            "fingerprint",
            "n_docs",
            "canonical_id",
            "dup_id",
            nul.alias("doc_id"),
            nul.alias("n_kept"),
            nul.alias("n_removed"),
        )
    )
    cleaned = D.boilerplate_line_removal(
        _spark_line_corpus(spark, sf_dir), min_doc_freq=_LINE_MIN_DF
    )
    li = cleaned.select(
        F.lit("line").alias("branch"),
        F.md5(F.col("text_clean")).alias("fingerprint"),
        nul.alias("n_docs"),
        nul.alias("canonical_id"),
        nul.alias("dup_id"),
        "doc_id",
        "n_kept",
        "n_removed",
    )
    return d.unionByName(li).orderBy("branch", "fingerprint", "dup_id", "doc_id")


_MAX_SHINGLE_FREQ = 20  # drop shingles in > this many docs before the join

# Decontamination split: every 20th doc is the "benchmark eval set"; the
# train side is the rest PLUS planted leaks — 60%-prefix copies of each
# eval doc (ids +200000), whose shingle containment lands around 0.6.
_DECON_EVAL_PRED = "doc_id % 20 = 0"
_DUCK_DECON_TRAIN = f"""
    SELECT doc_id, text FROM documents WHERE NOT ({_DECON_EVAL_PRED})
    UNION ALL
    SELECT doc_id + 200000, substring(text, 1, (length(text) * 3) // 5)
    FROM documents WHERE {_DECON_EVAL_PRED}
"""

@register(
    "dedup_ngram_jaccard",
    f"""
    WITH RECURSIVE docs AS (SELECT doc_id AS id, {duck_tokens('text')} AS toks FROM documents),
    sh AS (SELECT id, unnest(list_transform({duck_word_shingles('toks', _W)},
           s -> {duck_md5_long('s')})) AS h FROM docs),
    capped AS (SELECT id, h FROM sh
               WHERE h NOT IN (SELECT h FROM sh GROUP BY h
                               HAVING count(*) > {_MAX_SHINGLE_FREQ})),
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
               FROM capped a JOIN capped b ON a.h = b.h AND a.id < b.id
               GROUP BY 1, 2),
    pairs AS (SELECT id_a, id_b,
                     round(c / (sa.n + sb.n - c), 4) AS jaccard
              FROM common JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
              WHERE round(c / (sa.n + sb.n - c), 4) >= 0.5),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, lab) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.id
        WHERE r.lab < e.v),
    cc AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
    ev AS (SELECT doc_id AS id, {duck_tokens('text')} AS toks
           FROM documents WHERE {_DECON_EVAL_PRED}),
    tr AS (SELECT doc_id AS id, {duck_tokens('text')} AS toks
           FROM ({_DUCK_DECON_TRAIN}) t),
    evsh AS (SELECT id, unnest({duck_word_shingles('toks', _W)}) AS s FROM ev),
    trsh AS (SELECT id, unnest({duck_word_shingles('toks', _W)}) AS s FROM tr),
    evsz AS (SELECT id, count(*) AS n FROM evsh GROUP BY id),
    dcommon AS (SELECT t.id AS train_id, e.id AS eval_id, count(*) AS c
                FROM trsh t JOIN evsh e ON t.s = e.s GROUP BY 1, 2),
    decon AS (SELECT train_id, eval_id, round(c / n, 4) AS containment
              FROM dcommon JOIN evsz ON dcommon.eval_id = evsz.id
              WHERE round(c / n, 4) >= 0.3)
    SELECT 'pair' AS branch, id_a, id_b, jaccard FROM pairs
    UNION ALL
    SELECT 'cc' AS branch, id AS id_a, comp AS id_b, CAST(NULL AS DOUBLE) AS jaccard
    FROM cc
    UNION ALL
    SELECT 'decon' AS branch, train_id AS id_a, eval_id AS id_b,
           containment AS jaccard
    FROM decon
    ORDER BY branch, id_a, id_b
    """,
    doc=(
        "Tagged union: 'pair' = near-dup via 3-word-shingle inverted index "
        "+ exact Jaccard ≥ 0.5; 'cc' = connected components over those "
        "pairs (id_b = component = min reachable doc id) — the dup-CLUSTER "
        "step a retention policy actually consumes (keep min id, drop the "
        "rest); 'decon' = benchmark decontamination (id_a = train doc, "
        "id_b = eval doc, jaccard = directional shingle CONTAINMENT "
        "|S_t∩S_e|/|S_e| ≥ 0.3) over a doc_id%20 eval split with planted "
        "60%-prefix leaks — the eval side is fixed benchmark-sized, so its "
        "index broadcasts and the 100 TB train side never shuffles "
        "(operators/dedup.py::decontamination_pairs). Candidate join "
        "touches only docs sharing a shingle (no "
        "O(n²)); shingles appearing in > 20 docs are dropped before the "
        "join on BOTH engines (hot-shingle skew control — stopword "
        "shingles carry no dedup signal, and at 100 TB the freq² pair "
        "fan-out of a hot shingle is the bottleneck). Set sizes stay "
        "uncapped, so the Jaccard denominator is the true shingle-set "
        "size. Clusters: Spark runs hash-to-min + pointer doubling "
        "(O(log d) rounds, operators/dedup.py::connected_components); "
        "DuckDB oracles it with a recursive CTE."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the pair set feeds both branches and the CC iteration re-reads it
    # every round — materialize it once (small: only J>=t survivors)
    pairs = D.ngram_jaccard_pairs(
        docs, w=_W, threshold=0.5, max_shingle_freq=_MAX_SHINGLE_FREQ
    ).localCheckpoint(eager=True)
    cc = D.connected_components(pairs)
    evalset = docs.filter(F.expr(_DECON_EVAL_PRED)).select("doc_id", "text")
    train = (
        docs.filter(~F.expr(_DECON_EVAL_PRED))
        .select("doc_id", "text")
        .unionByName(
            evalset.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.expr("substring(text, 1, length(text) * 3 div 5)").alias("text"),
            )
        )
    )
    decon = D.decontamination_pairs(train, evalset, w=_W, threshold=0.3)
    return (
        pairs.select(F.lit("pair").alias("branch"), "id_a", "id_b", "jaccard")
        .unionByName(
            cc.select(
                F.lit("cc").alias("branch"),
                F.col("id").alias("id_a"),
                F.col("comp").alias("id_b"),
                F.lit(None).cast("double").alias("jaccard"),
            )
        )
        .unionByName(
            decon.select(
                F.lit("decon").alias("branch"),
                F.col("train_id").alias("id_a"),
                F.col("eval_id").alias("id_b"),
                F.col("containment").alias("jaccard"),
            )
        )
        .orderBy("branch", "id_a", "id_b")
    )


def _duck_minhash_sql() -> str:
    from ..operators.dedup import MINHASH_PRIME, minhash_params

    sig_aggs = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(_K))
    )
    r = _K // _BANDS
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, ".format(b=b)
        + "||'_'||".join(f"CAST(mh_{b * r + j} AS VARCHAR)" for j in range(r))
        + " AS band_key FROM sig"
        for b in range(_BANDS)
    )
    return f"""
    {_DUCK_SHINGLES},
    hashed AS (SELECT id, h % {MINHASH_PRIME} AS h FROM sh),
    sig AS (SELECT id, {sig_aggs} FROM hashed GROUP BY id),
    bands AS ({band_selects}),
    cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_key = y.band_key AND x.id < y.id),
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
               FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id
               GROUP BY 1, 2)
    SELECT cand.id_a AS id_a, cand.id_b AS id_b,
           round(c / (sa.n + sb.n - c), 4) AS jaccard
    FROM cand JOIN common ON cand.id_a = common.id_a AND cand.id_b = common.id_b
         JOIN sizes sa ON cand.id_a = sa.id JOIN sizes sb ON cand.id_b = sb.id
    WHERE round(c / (sa.n + sb.n - c), 4) >= 0.5
    ORDER BY id_a, id_b
    """


@register(
    "dedup_minhash_lsh",
    _duck_minhash_sql(),
    doc=(
        "MinHash(k=16) + LSH(4 bands × 4 rows) candidates, verified with "
        "exact Jaccard ≥ 0.5. The scale path: band join touches ~n·b rows."
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, k=_K, bands=_BANDS, w=_W, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def _duck_simhash_sql(bits: int = 32) -> str:
    from ..functions.texttools import duck_md5_long

    sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s_{i} > 0 THEN {2 ** i}::BIGINT ELSE 0 END)" for i in range(bits))
    return f"""
    WITH tok AS (SELECT doc_id AS id, unnest({duck_tokens('text')}) AS t FROM documents),
    h AS (SELECT id, {duck_md5_long('t')} AS h FROM tok),
    s AS (SELECT id, {sums} FROM h GROUP BY id)
    SELECT id, {fp} AS simhash FROM s ORDER BY id
    """


@register(
    "dedup_simhash",
    _duck_simhash_sql(),
    doc="32-bit frequency-weighted SimHash fingerprint per document.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, bits=32).orderBy("id")


def _duck_prefix_jaccard_sql(t: float = 0.5) -> str:
    return f"""
    {_DUCK_SHINGLES},
    freq AS (SELECT h, count(*) AS freq FROM sh GROUP BY h),
    ranked AS (
      SELECT sh.id, sh.h,
             row_number() OVER (PARTITION BY sh.id ORDER BY freq, sh.h) AS rn,
             count(*) OVER (PARTITION BY sh.id) AS n
      FROM sh JOIN freq ON sh.h = freq.h),
    prefix AS (SELECT id, h, n FROM ranked WHERE rn <= n - ceil({t} * n) + 1),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM prefix a JOIN prefix b
        ON a.h = b.h AND a.id < b.id
       AND b.n * {t} <= a.n AND a.n * {t} <= b.n),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS c
      FROM cand c JOIN sh fa ON fa.id = c.id_a
                  JOIN sh fb ON fb.id = c.id_b AND fb.h = fa.h
      GROUP BY c.id_a, c.id_b),
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id)
    SELECT common.id_a AS id_a, common.id_b AS id_b,
           round(c / (sa.n + sb.n - c), 4) AS jaccard
    FROM common JOIN sizes sa ON common.id_a = sa.id
                JOIN sizes sb ON common.id_b = sb.id
    WHERE round(c / (sa.n + sb.n - c), 4) >= {t}
    ORDER BY id_a, id_b
    """


@register(
    "dedup_ngram_prefix_filter",
    _duck_prefix_jaccard_sql(),
    doc=(
        "Exact Jaccard >= 0.5 pairs with AUTO physical-strategy "
        "selection (operators/dedup.ngram_jaccard_pairs_auto): one cheap "
        "aggregate estimates the naive join's mean candidate fan-out "
        "(sum f^2 / sum f over shingle doc-frequencies) and picks the "
        "naive inverted-index join below the measured crossover (~10.7 "
        "at bench scale, where its fixed costs win) or prefix filtering "
        "(AllPairs/PPJoin — docs index only the |S|-ceil(t|S|)+1 "
        "globally-rarest shingles, so hot template shingles never enter "
        "the candidate join) above it (fan-out >= 112 on every "
        "boilerplate corpus of tools/scale.py prefix_crossover). Both "
        "paths are exact, so the oracle (spelled as the prefix plan) "
        "pins the output either way; the prefix machinery itself is "
        "additionally pinned Spark-vs-Spark by "
        "tests/test_dataops.py::test_jaccard_auto_selects_and_agrees."
    ),
)
def dedup_ngram_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs_auto(docs, w=_W, threshold=0.5).orderBy("id_a", "id_b")

"""Text-analysis queries over `documents`, with DuckDB oracles:
language-ID (stopword heuristic), quality scoring, token counting,
document fingerprinting. All array-function built-ins — a single
projection pass over the corpus, no shuffle except final sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.texttools import duck_tokens, tokens
from . import load_table, register

# signal constants + Spark-side builders live in operators/curation.py
# (the curation pipeline composes them; these rows are their oracles)
from ..operators.curation import LANGS as _LANGS
from ..operators.curation import SAMPLE_MOD as _SAMPLE_MOD
from ..operators.curation import SAMPLE_RATES, STOPWORDS


def _duck_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_PACK_BUDGET = 512  # context-window token budget for concat-and-chunk packing


_SUBSTR_K = 8  # duplicated-substring removal k-gram width


def _duck_substr_dedup_ctes(k: int = _SUBSTR_K) -> str:
    """CTE chain oracle-twinning operators/dedup.duplicated_substring_stats
    (window-max formulation — same RESULT as Spark's codegen OR-chain)."""
    from ..functions.texttools import duck_md5_long

    gh = duck_md5_long(f"array_to_string(toks[pos : pos + {k - 1}], ' ')")
    return f"""
    tk AS (SELECT doc_id, {duck_tokens('text')} AS toks FROM d0),
    g0 AS (SELECT doc_id, toks,
                  unnest(range(1, len(toks) - {k} + 2)) AS pos
           FROM tk WHERE len(toks) >= {k}),
    g AS (SELECT doc_id, pos, {gh} AS h FROM g0),
    duph AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
    st AS (SELECT doc_id, pos FROM g JOIN duph USING (h)),
    tr AS (SELECT doc_id, unnest(toks) AS token,
                  unnest(range(1, len(toks) + 1)) AS t
           FROM tk),
    cv AS (SELECT tr.doc_id AS doc_id, tr.t AS t, tr.token AS token,
                  max(CASE WHEN st.pos IS NOT NULL THEN 1 ELSE 0 END)
                    OVER (PARTITION BY tr.doc_id ORDER BY tr.t
                          ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)
                    AS covered
           FROM tr LEFT JOIN st ON tr.doc_id = st.doc_id AND tr.t = st.pos),
    sp AS (SELECT *,
                  CASE WHEN covered = 1 AND coalesce(
                         lag(covered) OVER (PARTITION BY doc_id ORDER BY t), 0
                       ) = 0 THEN 1 ELSE 0 END AS span_start
           FROM cv),
    dd AS (SELECT doc_id,
                  CAST(sum(covered) AS BIGINT) AS n_dup_tokens,
                  CAST(sum(span_start) AS BIGINT) AS n_dup_spans,
                  coalesce(string_agg(CASE WHEN covered = 0 THEN token END,
                                      ' ' ORDER BY t), '') AS dedup_text
           FROM sp GROUP BY doc_id)"""


@register(
    "text_token_stats",
    rf"""
    WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    base AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len({duck_tokens('text')}) AS n_tokens,
             len(string_split(text, ' ')) AS n_ws_tokens,
             len(list_distinct({duck_tokens('text')})) AS n_unique_tokens,
             round(length(text) / greatest(len({duck_tokens('text')}), 1), 4)
               AS chars_per_token,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
             len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens,
             len(regexp_extract_all(text, '[^a-z0-9\s]')) AS n_symbol_tokens
      FROM d0),
    s AS (SELECT *,
                 coalesce(sum(n_bpe_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS strt
          FROM base),
    {_duck_substr_dedup_ctes()}
    SELECT s.doc_id AS doc_id, n_chars, n_tokens, n_ws_tokens, n_unique_tokens,
           chars_per_token, n_bpe_tokens, n_number_tokens, n_symbol_tokens,
           CAST(strt // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(strt % {_PACK_BUDGET} AS BIGINT) AS pack_offset,
           coalesce(n_dup_tokens, 0) AS n_dup_tokens,
           coalesce(n_dup_spans, 0) AS n_dup_spans,
           coalesce(dedup_text, '') AS dedup_text
    FROM s LEFT JOIN dd ON s.doc_id = dd.doc_id
    ORDER BY doc_id
    """,
    doc=(
        "Token counting + sequence packing: regex tokens, whitespace "
        "tokens, uniques, ratio, BPE-ish pre-tokenization counts "
        "(GPT-2-style alpha runs / digit runs / single symbols — the "
        "token-budget estimator for corpus planning), plus the "
        "concat-and-chunk pack assignment (pack_id/pack_offset: which "
        "512-token context window each doc's first token lands in when "
        "the corpus is concatenated in doc_id order). The pack columns "
        "are an exact global prefix sum WITHOUT a single-task window — "
        "two-pass range shuffle + broadcast offsets "
        "(operators/packing.py); DuckDB oracles it with a plain window "
        "sum. Round 6 adds the exact duplicated-substring removal pass "
        "(Lee et al. ACL 2022, ExactSubstr re-expressed on k-gram "
        "hashes): n_dup_tokens / n_dup_spans / dedup_text — token "
        "positions covered by any corpus-duplicated 8-gram are removed "
        "and the survivors re-joined (operators/dedup.py::"
        "duplicated_substring_stats; the oracle twins it with a "
        "window-max coverage formulation)."
    ),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicated_substring_stats
    from ..operators.packing import pack_assignments

    # NULL text counts as empty text (the tokens()-family contract)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    toks = tokens(F.col("text"))
    bpe = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    base = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.split(F.col("text"), " ", -1)).alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(
            F.length("text") / F.greatest(F.size(toks), F.lit(1)), 4
        ).alias("chars_per_token"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(bpe), 0)).alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)).alias("n_number_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^a-z0-9\s]"), 0)).alias("n_symbol_tokens"),
    )
    packed = pack_assignments(
        base, budget=_PACK_BUDGET, token_col="n_bpe_tokens", order_col="doc_id"
    )
    dd = duplicated_substring_stats(d, k=_SUBSTR_K)
    return packed.join(dd, "doc_id").orderBy("doc_id")


def _duck_langid_sql() -> str:
    from ..functions.texttools import duck_md5_long
    from ..operators.curation import MIX_ALPHA, MIX_BUDGET_FRAC, MIX_SALT

    scores = ", ".join(
        f"len(list_intersect(toks, {_duck_list(STOPWORDS[lg])})) AS s_{lg}"
        for lg in _LANGS
    )
    pred = (
        "CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en' "
        "WHEN s_es >= s_de AND s_es >= s_fr THEN 'es' "
        "WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END"
    )
    rate = (
        "CASE predicted_lang "
        + " ".join(f"WHEN '{lg}' THEN {SAMPLE_RATES[lg]}" for lg in _LANGS)
        + " END"
    )
    h = duck_md5_long("CAST(p.doc_id AS VARCHAR)")
    mh = duck_md5_long(f"'{MIX_SALT}|' || CAST(p.doc_id AS VARCHAR)")
    # association order matches operators/curation.domain_mixture exactly
    mrate = (
        f"least(1.0, power(c, {MIX_ALPHA}) / s * {MIX_BUDGET_FRAC} * n / c)"
    )
    return f"""
    WITH t AS (SELECT doc_id, lang, {duck_tokens('text')} AS toks FROM documents),
    s AS (SELECT doc_id, lang, {scores} FROM t),
    p AS (SELECT doc_id, lang AS labeled_lang, {pred} AS predicted_lang,
                 s_en, s_es, s_de, s_fr
          FROM s),
    mix0 AS (SELECT coalesce(source, '__null_domain__') AS dkey, count(*) AS c
             FROM documents GROUP BY 1),
    mixt AS (SELECT sum(power(c, {MIX_ALPHA})) AS s, sum(c) AS n FROM mix0),
    mixr AS (SELECT dkey, CAST(floor({mrate} * {_SAMPLE_MOD}) AS BIGINT)
                    AS mix_rate_bp
             FROM mix0, mixt)
    SELECT p.*, CAST({rate} AS DOUBLE) AS sample_rate,
           ({h}) % {_SAMPLE_MOD} < CAST(({rate}) * {_SAMPLE_MOD} AS BIGINT)
             AS sample_keep,
           d.source AS source, mixr.mix_rate_bp AS mix_rate_bp,
           ({mh}) % {_SAMPLE_MOD} < mixr.mix_rate_bp AS mix_keep
    FROM p
    JOIN documents d ON p.doc_id = d.doc_id
    JOIN mixr ON coalesce(d.source, '__null_domain__') = mixr.dkey
    ORDER BY p.doc_id
    """


@register(
    "text_langid",
    _duck_langid_sql(),
    doc=(
        "Language ID + stratified downsampling: distinct-stopword-hit "
        "scores per language, argmax with fixed precedence (n-gram-free "
        "heuristic, one projection pass), then a deterministic hash-quota "
        "sample to a target language mix (sample_keep = md5(doc_id) mod "
        "10000 < rate·10000). Hash sampling is the scale-correct "
        "stratified sampler: exact-fraction samplers need a global count "
        "per stratum (two passes + a shuffle); the hash quota is a pure "
        "per-row function — reproducible, coordination-free, and stable "
        "when the corpus grows. Round 6 adds the temperature-based "
        "domain-mixture sampler (source, mix_rate_bp, mix_keep): domain "
        "weight c^0.5/Σc^0.5 over the source column, target = "
        "weight·0.5·N docs, keep rate min(1, target/c) as an "
        "independent salted hash quota — the data-mixing step of "
        "pretraining prep (operators/curation.py::domain_mixture; tiny "
        "per-domain agg + broadcast join, zero corpus-sized shuffles)."
    ),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import domain_mixture, langid_signals

    d = load_table(spark, sf_dir, "documents")
    mix = domain_mixture(d)
    return langid_signals(d).join(mix, "doc_id").orderBy("doc_id")


# -------- link-graph quality (PageRank over the synthetic host graph) -------
# Edge derivation: every document is an outlink from its `source` host to
# a hash-derived target host — deterministic and SQL-expressible in both
# engines, standing in for the crawl's real hyperlink extraction (which
# is upstream parsing, not engine work). The salt decouples the link hash
# from the split hash.
_PR_EDGE_SALT = 97
_PR_DST_MOD = 20
_PR_ITERS = 5
_PR_N_SEEDS = 2


def _duck_pagerank_ctes(iters: int = _PR_ITERS) -> str:
    """Unrolled-CTE DuckDB twin of operators/graph.py::pagerank — the
    same integer ops (multiply + floor-divide) in the same order, one
    CTE trio (inflow, dangling mass, new ranks) per iteration. Integer
    fixed-point is what makes this oracle possible at all: a float
    PageRank's distributed sums would differ across engines in the last
    ULPs."""
    from ..functions.texttools import duck_salted_md5_long
    from ..operators.graph import DAMPING_DEN as dd
    from ..operators.graph import DAMPING_NUM as dn
    from ..operators.graph import PAGERANK_SCALE as sc

    dst = (
        "'src' || CAST("
        + duck_salted_md5_long("md5(coalesce(text, ''))", _PR_EDGE_SALT)
        + f" % {_PR_DST_MOD} AS VARCHAR)"
    )
    parts = [
        f"pe0 AS (SELECT source AS src, {dst} AS dst FROM documents)",
        "pe AS (SELECT DISTINCT src, dst FROM pe0 WHERE src != dst)",
        "pn AS (SELECT src AS node FROM pe UNION SELECT dst FROM pe)",
        "pnn AS (SELECT count(*) AS n FROM pn)",
        "pod AS (SELECT src, count(*) AS outdeg FROM pe GROUP BY 1)",
        f"pr0 AS (SELECT node, CAST({sc} // n AS BIGINT) AS rank_fp FROM pn CROSS JOIN pnn)",
    ]
    for i in range(1, iters + 1):
        p = f"pr{i - 1}"
        parts.append(
            f"inf{i} AS (SELECT pe.dst AS node, "
            f"CAST(sum(({dn} * r.rank_fp) // ({dd} * pod.outdeg)) AS BIGINT) AS inflow "
            f"FROM pe JOIN {p} r ON pe.src = r.node "
            f"JOIN pod ON pe.src = pod.src GROUP BY 1)"
        )
        parts.append(
            f"dm{i} AS (SELECT CAST(coalesce(sum(r.rank_fp), 0) AS BIGINT) AS dm "
            f"FROM {p} r LEFT JOIN pod ON r.node = pod.src "
            f"WHERE pod.src IS NULL)"
        )
        parts.append(
            f"pr{i} AS (SELECT pn.node, "
            f"CAST(({dd - dn} * {sc}) // ({dd} * n) + ({dn} * dm) // ({dd} * n) "
            f"+ coalesce(inflow, 0) AS BIGINT) AS rank_fp "
            f"FROM pn CROSS JOIN pnn CROSS JOIN dm{i} "
            f"LEFT JOIN inf{i} ON pn.node = inf{i}.node)"
        )
    # TrustRank chain: same edge table, teleport mass lands only on the
    # seed set — the TWO lexicographically-smallest nodes, derived from
    # the data identically in both engines (the Spark wrapper collects
    # the same bounded 2-row list). n_t = 2 folds into the literals.
    n_t = _PR_N_SEEDS
    base_t = ((dd - dn) * sc) // (dd * n_t)
    seed_cond = "node IN (SELECT node FROM tsd)"
    parts.append(f"tsd AS (SELECT node FROM pn ORDER BY node LIMIT {n_t})")
    parts.append(
        f"tr0 AS (SELECT node, CAST(CASE WHEN {seed_cond} "
        f"THEN {sc // n_t} ELSE 0 END AS BIGINT) AS rank_fp FROM pn)"
    )
    for i in range(1, iters + 1):
        p = f"tr{i - 1}"
        parts.append(
            f"tinf{i} AS (SELECT pe.dst AS node, "
            f"CAST(sum(({dn} * r.rank_fp) // ({dd} * pod.outdeg)) AS BIGINT) AS inflow "
            f"FROM pe JOIN {p} r ON pe.src = r.node "
            f"JOIN pod ON pe.src = pod.src GROUP BY 1)"
        )
        parts.append(
            f"tdm{i} AS (SELECT CAST(coalesce(sum(r.rank_fp), 0) AS BIGINT) AS dm "
            f"FROM {p} r LEFT JOIN pod ON r.node = pod.src "
            f"WHERE pod.src IS NULL)"
        )
        parts.append(
            f"tr{i} AS (SELECT pn.node, "
            f"CAST(CASE WHEN pn.node IN (SELECT node FROM tsd) "
            f"THEN {base_t} + ({dn} * dm) // ({dd} * {n_t}) ELSE 0 END "
            f"+ coalesce(inflow, 0) AS BIGINT) AS rank_fp "
            f"FROM pn CROSS JOIN tdm{i} "
            f"LEFT JOIN tinf{i} ON pn.node = tinf{i}.node)"
        )
    return ",\n    ".join(parts)


def _duck_quality_sql() -> str:
    from ..functions.texttools import duck_md5_long, duck_word_ngrams
    from ..operators.curation import SPLIT_SALT

    en = _duck_list(STOPWORDS["en"])
    sb = duck_md5_long(f"'{SPLIT_SALT}|' || md5(coalesce(text, ''))") + " % 10"
    return f"""
    WITH t AS (SELECT doc_id, {duck_tokens('text')} AS toks, text FROM documents),
    m AS (SELECT doc_id, text, toks,
                 len(toks) AS n_tokens,
                 length(text) AS n_chars,
                 len(list_filter(toks, x -> list_contains({en}, x))) AS n_stop,
                 len(list_distinct(toks)) AS n_uniq
          FROM t),
    bg AS (SELECT doc_id, unnest({duck_word_ngrams('toks', 2)}) AS bg FROM t),
    bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
    rep AS (SELECT doc_id, max(c) AS top_c,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
            FROM bgc GROUP BY 1)
    ,{_duck_pagerank_ctes()}
    SELECT 'doc' AS branch,
           m.doc_id AS doc_id,
           round(n_stop / greatest(n_tokens, 1), 4) AS stopword_ratio,
           round(n_uniq / greatest(n_tokens, 1), 4) AS unique_ratio,
           round(n_chars / greatest(n_tokens, 1), 4) AS mean_token_len,
           round(coalesce(top_c, 0) / greatest(n_tokens - 1, 1), 4)
             AS top_bigram_frac,
           round(coalesce(dup_c, 0) / greatest(n_tokens - 1, 1), 4)
             AS dup_bigram_frac,
           round(least(n_tokens / 100.0, 1.0) * (0.5 + 0.5 * (n_uniq / greatest(n_tokens, 1))), 4)
             AS quality_score,
           md5(coalesce(array_to_string(list_sort(list_distinct(toks)), ' '), ''))
             AS bag_fingerprint,
           md5(text) AS exact_fingerprint,
           CAST({sb} AS INTEGER) AS split_bucket,
           CASE WHEN {sb} < 8 THEN 'train'
                WHEN {sb} = 8 THEN 'val' ELSE 'test' END AS split,
           CAST(NULL AS VARCHAR) AS node,
           CAST(NULL AS BIGINT) AS rank_fp
    FROM m LEFT JOIN rep ON m.doc_id = rep.doc_id
    UNION ALL
    SELECT 'pagerank', NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, node, rank_fp
    FROM pr{_PR_ITERS}
    UNION ALL
    SELECT 'trustrank', NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, node, rank_fp
    FROM tr{_PR_ITERS}
    ORDER BY branch, doc_id, node
    """


@register(
    "text_quality",
    _duck_quality_sql(),
    doc=(
        "Quality scoring + repetition signals + document fingerprinting: "
        "stopword ratio, lexical diversity, length signals composed into a "
        "[0,1] score, plus Gopher-style repetition filters — top_bigram_frac "
        "(share of word-bigrams taken by the single most-repeated bigram) "
        "and dup_bigram_frac (share of bigrams occurring more than once), "
        "the boilerplate/loop-text detectors — plus the order-insensitive "
        "bag-of-words md5 (catches shuffled near-dups) and exact md5. "
        "Repetition counts run as position-explode → element_at pairing → "
        "two-level groupBy on doc_id (fully whole-stage-codegen + partial "
        "agg; building the bigram array via a transform lambda evaluates "
        "interpreted per element, measured ~4× slower at sf0.1), then one "
        "doc_id-keyed join back to the projection pass; total bigram count "
        "is derived as n_tokens-1 in the projection, not aggregated. "
        "Formerly two queries (text_quality, "
        "text_fingerprint) — merged because the driver gate checks at most "
        "50 registry entries. Round 6 adds the dedup-aware train/val/test "
        "split (split_bucket, split): the bucket is a salted hash of the "
        "duplicate-GROUP key (the exact fingerprint), so byte-identical "
        "docs can never straddle splits — eval-leakage-free by "
        "construction (operators/curation.py::dedup_aware_split, which "
        "also takes near-dup pair edges to split whole clusters "
        "together; pure projection, zero shuffles). Round 9 packs the "
        "link-graph quality signal in as the 'pagerank' branch: "
        "fixed-point integer PageRank (operators/graph.py) over the "
        "hash-derived host graph, 5 iterations at damping 17/20 — "
        "integer micro-unit ranks make the distributed sum "
        "order-independent, so the DuckDB unrolled-CTE twin matches "
        "bit-exactly (a float PageRank could never be hash-verified "
        "cross-engine)."
    ),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import dedup_aware_split, quality_signals

    d = load_table(spark, sf_dir, "documents")
    nul_s = F.lit(None).cast("string")
    nul_d = F.lit(None).cast("double")
    nul_l = F.lit(None).cast("long")
    doc = (
        quality_signals(d)
        .join(dedup_aware_split(d), "doc_id")
        .select(
            F.lit("doc").alias("branch"),
            "*",
            nul_s.alias("node"),
            nul_l.alias("rank_fp"),
        )
    )
    edges = _quality_edges(d)
    def _rank_branch(tag: str, ranks: DataFrame) -> DataFrame:
        return ranks.select(
            F.lit(tag).alias("branch"),
            nul_l.alias("doc_id"),
            *[
                nul_d.alias(c)
                for c in (
                    "stopword_ratio",
                    "unique_ratio",
                    "mean_token_len",
                    "top_bigram_frac",
                    "dup_bigram_frac",
                    "quality_score",
                )
            ],
            nul_s.alias("bag_fingerprint"),
            nul_s.alias("exact_fingerprint"),
            F.lit(None).cast("int").alias("split_bucket"),
            nul_s.alias("split"),
            "node",
            "rank_fp",
        )

    both = _quality_ranks(edges)
    pr = _rank_branch("pagerank", both.select("node", "rank_fp"))
    tr = _rank_branch(
        "trustrank",
        both.select("node", F.col("_trust_fp").alias("rank_fp")),
    )
    return (
        doc.unionByName(pr)
        .unionByName(tr)
        .orderBy("branch", "doc_id", "node")
    )


def _quality_edges(d: DataFrame) -> DataFrame:
    """text_quality's host-graph edge table. r15: the edge derivation
    (corpus scan + md5 + distinct shuffle) is consumed twice — the
    seeds collect and pagerank_multi — so it is materialized once;
    host-graph edges are node-bounded (≤ |sources| × _PR_DST_MOD
    distinct pairs), a bounded checkpoint at any corpus size."""
    from ..functions.texttools import salted_md5_long

    fp = F.md5(F.coalesce(F.col("text"), F.lit("")))
    dst = F.concat(
        F.lit("src"),
        (salted_md5_long(fp, _PR_EDGE_SALT) % _PR_DST_MOD).cast("string"),
    )
    return (
        d.select(F.col("source").alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )


def _quality_ranks(edges: DataFrame, **pagerank_kwargs) -> DataFrame:
    """text_quality's joint PageRank/TrustRank frame (node, rank_fp,
    _trust_fp), eagerly checkpointed. Trustrank seeds = the two
    lexicographically-smallest nodes, derived from the data so the
    oracle's `ORDER BY node LIMIT 2` subquery and this bounded 2-row
    collect always agree on any corpus. ONE joint propagation carries
    both teleport distributions as two rank columns (pagerank_multi):
    every per-round join/aggregate runs once, not per mode. Default
    per-round checkpointing: with the loop invariants pinned inside the
    operator, eager rank checkpoints beat the lazy 2^T-chain plan
    (tiny-task storms) at local[32]/32."""
    from ..operators.graph import pagerank_multi

    seeds = [
        r["node"]
        for r in (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
            .orderBy("node")
            .limit(_PR_N_SEEDS)
            .collect()
        )
    ]
    return pagerank_multi(
        edges,
        teleports={"rank_fp": None, "_trust_fp": seeds},
        iterations=_PR_ITERS,
        **pagerank_kwargs,
    ).localCheckpoint(eager=True)


def quality_pagerank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only twin of text_quality's rank subcomputation with the
    size-adaptive driver fast path DISABLED (driver_threshold=0), so
    the DISTRIBUTED PageRank iteration — the 100 TB code path, which
    the ≤100k-edge gate keeps off the bench at test SFs — retains a
    measured number (r15 verdict item 7). Parity of the two paths is
    test-pinned (test_driver_and_distributed_paths_agree); this helper
    exists purely so bench.py can time the distributed one. NOT a
    registry row and NOT oracled — it computes the same ranks."""
    d = load_table(spark, sf_dir, "documents")
    return _quality_ranks(_quality_edges(d), driver_threshold=0)


def bpe_learn_dist(spark: SparkSession, sf_dir: str) -> list:
    """Bench-only twin of text_lm_bpe's merge learning with the
    driver-vocab fast path DISABLED (driver_vocab_threshold=0): the
    distributed per-merge argmax loop keeps a measured number at SFs
    whose vocab fits the ≤100k driver gate (r15 verdict item 7).
    Parity is test-pinned (test_bpe_driver_and_distributed_paths_agree)."""
    from ..operators.bpe import bpe_learn

    d = load_table(spark, sf_dir, "documents")
    return bpe_learn(d, n_merges=_BPE_MERGES, driver_vocab_threshold=0)


_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


def _duck_winnow_sql(
    k: int = 8, w: int = 4, c: int = _CHUNK_TOKENS, s: int = _CHUNK_STRIDE
) -> str:
    from ..functions.texttools import duck_md5_long

    grams = f"list_transform(range(1, greatest(length(text) - {k} + 1, 1) + 1), i -> substr(text, i, {k}))"
    hashes = f"list_transform({grams}, g -> {duck_md5_long('g')})"
    minima = (
        f"list_transform(range(1, greatest(len(h) - {w} + 1, 1) + 1), "
        f"i -> list_aggregate(h[i : i + {w - 1}], 'min'))"
    )
    chash = duck_md5_long(
        f"coalesce(array_to_string(toks[i * {s} + 1 : i * {s} + {c}], ' '), '')"
    )
    return f"""
    WITH g AS (SELECT doc_id, {hashes} AS h FROM documents),
    fp AS (SELECT doc_id, list_sort(list_distinct({minima})) AS fps FROM g),
    tk AS (SELECT doc_id, {duck_tokens('text')} AS toks,
                  len({duck_tokens('text')}) AS n
           FROM documents),
    ci AS (SELECT doc_id, toks,
                  unnest(range(0, CASE WHEN n <= {c} THEN 1
                                       ELSE 1 + (n - {c} + {s} - 1) // {s} END)) AS i
           FROM tk),
    cf AS (SELECT DISTINCT doc_id, {chash} AS fingerprint FROM ci)
    SELECT 'winnow' AS method, doc_id, unnest(fps) AS fingerprint FROM fp
    UNION ALL
    SELECT 'chunk' AS method, doc_id, fingerprint FROM cf
    ORDER BY method, doc_id, fingerprint
    """


@register(
    "text_winnow_fingerprint",
    _duck_winnow_sql(),
    doc=(
        "Document fingerprinting, two schemes in one tagged union. "
        "'winnow' (Schleimer et al., SIGMOD 2003): rolling character "
        "8-gram hashes, minimum per 4-hash window, distinct minima — "
        "the content-defined fingerprint that survives insertions and "
        "reorderings. 'chunk': md5 of each overlapping fixed-stride "
        "token window (32 tokens, stride 24) — the fixed-grid "
        "fingerprint that doubles as the RAG/training chunker "
        "(operators/packing.py::chunk_documents emits the full chunk "
        "rows with offsets+text; this row oracles its boundaries and "
        "content via the chunk hashes). Both branches are pure "
        "projection passes (explode + codegen md5), no UDF."
    ),
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plan note (r15 session 3): the winnow branch runs the
    ARROW kernel — the whole computation is per-doc-local, so one
    mapInPandas pass (hashlib md5 = the md5_long law, numpy w-window
    minima) computes each doc's fingerprint set in-task and the ~10M
    gram rows never exist as Spark rows; the corpus-sized
    Exchange+sort the window kernel paid (hash every gram row by
    doc_id) is gone, and the only exchange left before the contract
    ORDER BY is the doc-row fan-out guard (text moves once; at scale
    the scan already has more splits than cores and even that
    disappears). Same-box interleaved A/B at sf0.1 (6 runs each, full
    row): arrow median 4.28 s / min 3.95 vs window median 8.55 / min
    6.30 — and bit-identical rows (test_winnow_kernels_agree + the
    oracle gate). Guide §2.4/§4.2/§8: ship the 10 MB of doc text to
    the kernel instead of shuffling 10M gram rows.

    History of JVM-shape A/Bs that led here (all at sf0.1): exploded
    grams + codegen md5 + frame-bounded window min was the round-6
    winner (~6.2 s); a `transform` lambda evaluates interpreted per
    element (~15 s); doc-level pre-repartition before the explode
    10.6 s; window-position explode + two-level groupBy 7.9 s. The
    window kernel remains the operator default
    (operators/dedup.winnow_fingerprints) for callers that want a
    Python-free plan."""
    from ..functions.texttools import md5_long
    from ..operators.dedup import winnow_fingerprints
    from ..operators.packing import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    win = winnow_fingerprints(d, k=8, w=4, kernel="arrow").select(
        F.lit("winnow").alias("method"), "doc_id", "fingerprint"
    )
    ch = (
        chunk_documents(d, chunk_tokens=_CHUNK_TOKENS, stride=_CHUNK_STRIDE)
        .select("doc_id", md5_long(F.col("chunk_text")).alias("fingerprint"))
        .distinct()
        .select(F.lit("chunk").alias("method"), "doc_id", "fingerprint")
    )
    return win.unionByName(ch).orderBy("method", "doc_id", "fingerprint")


# text_bpe_ish_tokens was folded into text_token_stats (the driver's
# correctness gate checks at most 50 registry entries — observed in round 1,
# where exactly the first 50 of 52 registered queries were recorded; the
# BPE-ish pre-tokenization columns stay oracle-verified inside
# text_token_stats).


_DSIR_BUCKETS = 10_000
_DSIR_TARGET_SOURCE = "src0"  # target slice: one of the 20 synthetic sources

# frozen classifier for the 'clf' branch: md5-derived weights over B
# buckets (both engines derive w(bucket) from the bucket id by the same
# hash law, so no weight table ships in the SQL text) + a fixed bias.
# Verifying the trained-model SCORING pass + the Pareto keep rule is the
# point — training is iterative driver-looped (pytest-verified in
# tests/test_classifier.py) and deliberately outside the oracle.
_CLF_BUCKETS = 4096
_CLF_BIAS = 0.5
_CLF_W_MOD = 2001
_CLF_W_SCALE = 250.0


def _clf_weight_py(bucket: int) -> float:
    """Python twin of the SQL weight law in _duck_dsir_sql: uniform-ish
    in [-4, 4], md5-derived from the bucket id."""
    import hashlib

    v = int(hashlib.md5(f"w|{bucket}".encode()).hexdigest()[:15], 16)
    return (v % _CLF_W_MOD - (_CLF_W_MOD - 1) // 2) / _CLF_W_SCALE


def _duck_dsir_sql() -> str:
    from ..functions.texttools import duck_md5_long, duck_salted_md5_long
    from ..operators.selection import DSIR_GUMBEL_MOD, DSIR_GUMBEL_SALT

    gh = duck_md5_long("array_to_string(toks[pos : pos + 1], ' ')")
    uh = duck_salted_md5_long("CAST(doc_id AS VARCHAR)", DSIR_GUMBEL_SALT)
    pu = duck_salted_md5_long("CAST(doc_id AS VARCHAR)", 83)  # pareto_keep salt
    wb = duck_md5_long("'w|' || CAST(bucket AS VARCHAR)")
    B = _DSIR_BUCKETS
    M = DSIR_GUMBEL_MOD
    CB, CM, CS = _CLF_BUCKETS, _CLF_W_MOD, _CLF_W_SCALE
    return f"""
    WITH tk AS (SELECT doc_id, {duck_tokens('text')} AS toks FROM documents),
    pos AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos
            FROM tk WHERE len(toks) >= 2),
    gr AS (SELECT doc_id, ({gh}) % {B} AS bucket FROM pos),
    gt AS (SELECT bucket FROM gr JOIN documents d USING (doc_id)
           WHERE d.source = '{_DSIR_TARGET_SOURCE}'),
    cr AS (SELECT bucket, count(*) AS cr FROM gr GROUP BY 1),
    ct AS (SELECT bucket, count(*) AS ct FROM gt GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM gr) AS R, (SELECT count(*) FROM gt) AS T),
    lr AS (SELECT cr.bucket AS bucket,
                  ln((coalesce(ct.ct, 0) + 1.0) / (T + {float(B)}))
                - ln((cr.cr + 1.0) / (R + {float(B)})) AS lr
           FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket, tot),
    sc AS (SELECT doc_id, count(*) AS n_feats, round(sum(lr), 4) AS log_w
           FROM gr JOIN lr USING (bucket) GROUP BY 1),
    w AS (SELECT d.doc_id AS doc_id, coalesce(sc.n_feats, 0) AS n_feats,
                 coalesce(sc.log_w, 0.0) AS log_w
          FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
    sel AS (SELECT doc_id, n_feats, log_w,
                   round(-ln(-ln((({uh}) % {M} + 0.5) / {M})), 4) AS gumbel
            FROM w),
    dsir AS (SELECT doc_id, n_feats, log_w, gumbel, log_w + gumbel AS sel_key
             FROM sel
             QUALIFY row_number() OVER (ORDER BY sel_key DESC, doc_id)
                     <= greatest(count(*) OVER () // 4, 1)),
    -- classifier scoring law: L1-normalized hashed-bigram features x,
    -- logit = sum(w(bucket) * x) + bias, prob = sigmoid(logit), and the
    -- GPT-3 stochastic Pareto keep (prob > 1 - X, X hash-derived)
    cgr AS (SELECT doc_id, ({gh}) % {CB} AS bucket FROM pos),
    ccnt AS (SELECT doc_id, bucket, count(*) AS c FROM cgr GROUP BY 1, 2),
    ctot AS (SELECT doc_id, sum(c) AS tot FROM ccnt GROUP BY 1),
    cm AS (SELECT ccnt.doc_id AS doc_id,
                  sum((({wb}) % {CM} - {(CM - 1) // 2}) / {CS}
                      * ccnt.c / ctot.tot) AS m
           FROM ccnt JOIN ctot ON ccnt.doc_id = ctot.doc_id GROUP BY 1),
    clog AS (SELECT d.doc_id AS doc_id,
                    coalesce(cm.m, 0.0) + {_CLF_BIAS} AS logit
             FROM documents d LEFT JOIN cm ON d.doc_id = cm.doc_id),
    clf AS (SELECT doc_id,
                   1.0 / (1.0 + exp(-logit)) AS prob,
                   pow((({pu}) % 1000000 + 0.5) / 1000000.0, -1.0 / 9.0) - 1.0
                       AS px
            FROM clog)
    SELECT 'dsir' AS branch, doc_id, n_feats, log_w, gumbel, sel_key,
           CAST(NULL AS DOUBLE) AS clf_prob, CAST(NULL AS DOUBLE) AS pareto_x,
           CAST(NULL AS BOOLEAN) AS clf_keep
    FROM dsir
    UNION ALL
    SELECT 'clf', doc_id, NULL, NULL, NULL, NULL,
           round(prob, 4), round(px, 4), prob > 1.0 - px
    FROM clf
    ORDER BY branch, doc_id
    """


@register(
    "text_dsir_select",
    _duck_dsir_sql(),
    doc=(
        "DSIR data selection (Xie et al., NeurIPS 2023): hashed-bigram "
        "importance resampling of the corpus toward a target slice "
        "(source='src0'), Gumbel-top-k of N/4 docs by "
        "log_w + deterministic hash-Gumbel noise. log_w = sum over the "
        "doc's hashed bigram buckets of ln p_target − ln p_raw with "
        "add-1 smoothing over 10k buckets — the data-SELECTION member "
        "of the training-data family, next to dedup (what to drop), "
        "quality (what to trust) and mixture (how much of each domain). "
        "operators/selection.py carries the scale story: B-bounded "
        "count shuffles, broadcast log-ratio table, distributed "
        "orderBy().limit() top-k — no global window, no Python. "
        "Round 10 packs the learned-quality-classifier SCORING pass in "
        "as the 'clf' branch (operators/classifier.py::score_quality + "
        "pareto_keep): a frozen md5-derived weight vector over 4096 "
        "hashed-bigram buckets — both engines derive w(bucket) from the "
        "bucket id by the same hash law — scores every doc "
        "(logit = Σ w·x + bias over L1-normalized features, "
        "prob = sigmoid), and GPT-3's stochastic Pareto rule "
        "(Brown et al. 2020 §A: keep iff prob > 1 − X, X deterministic "
        "hash-Pareto(9)) decides clf_keep. Training stays iterative/"
        "pytest-verified (tests/test_classifier.py); the oracle verifies "
        "the score law and the keep threshold, closing the last "
        "pytest-only operator family."
    ),
)
def text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plan note: the selection is a TakeOrderedAndProject (the
    distributed top-k), never a single-partition rank window — the
    oracle's QUALIFY window is DuckDB-side only. ``k`` comes from one
    corpus count action (bounded driver work, same contract as the
    packing offsets). The clf branch is one gram projection + broadcast
    weight join + doc-keyed sum — no Python, no corpus shuffle beyond
    the (doc, bucket) count."""
    from ..operators.classifier import pareto_keep, score_quality
    from ..operators.selection import dsir_select

    d = load_table(spark, sf_dir, "documents")
    k = max(1, d.count() // 4)
    nul_d = F.lit(None).cast("double")
    dsir = dsir_select(
        d,
        d.filter(F.col("source") == _DSIR_TARGET_SOURCE),
        k=k,
        n=2,
        n_buckets=_DSIR_BUCKETS,
    ).select(
        F.lit("dsir").alias("branch"),
        "doc_id",
        "n_feats",
        "log_w",
        "gumbel",
        "sel_key",
        nul_d.alias("clf_prob"),
        nul_d.alias("pareto_x"),
        F.lit(None).cast("boolean").alias("clf_keep"),
    )
    model = {
        "weights": {b: _clf_weight_py(b) for b in range(_CLF_BUCKETS)},
        "bias": _CLF_BIAS,
    }
    clf = pareto_keep(score_quality(d, model, n_buckets=_CLF_BUCKETS)).select(
        F.lit("clf").alias("branch"),
        "doc_id",
        F.lit(None).cast("long").alias("n_feats"),
        nul_d.alias("log_w"),
        nul_d.alias("gumbel"),
        nul_d.alias("sel_key"),
        F.round("prob", 4).alias("clf_prob"),
        F.round("pareto_x", 4).alias("pareto_x"),
        F.col("keep").alias("clf_keep"),
    )
    return dsir.unionByName(clf).orderBy("branch", "doc_id")


_BPE_MERGES = 10  # learned deterministically; list below pinned at sf0.01

# The merge list bpe_learn produces on sf0.01/documents (argmax by
# count desc, pair asc — fully deterministic; pinned against the
# pure-Python Sennrich reference in tests/test_bpe.py). The oracle
# embeds it, so the driver's hash compare verifies BOTH the learned
# rules (via the `merges` column) and the segmentation. The Spark side
# re-learns from whatever sf_dir it is given, so the row still runs
# standalone at other scale factors (the driver only oracle-compares
# at sf0.01).
_BPE_SF001_MERGES = [
    ("e", "r_"), ("o", "w_"), ("t", "o"), ("a", "t"), ("l", "u"),
    ("a", "s"), ("i", "n"), ("e", "r"), ("o", "r"), ("a", "r"),
]


def _duck_bpe_sql() -> str:
    """Greedy-leftmost BPE merge application as a chained ``replace()``
    over a '//'-separator-encoded symbol string. SQL string replace is
    leftmost non-overlapping, which is exactly Sennrich's one-pass
    merge scan (a merged symbol never re-merges within the same rule),
    and the doubled separator keeps symbol boundaries unambiguous: a
    pattern '/a//b/' can never straddle the '////' word joint or match
    a symbol of which ``a``/``b`` is a substring. Validated cell-exact
    against the pure-Python reference on all 500 sf0.01 docs."""
    # encode one word: //c1//c2//...//cn_// with EOW on the last char
    chain = (
        "regexp_replace('//' || regexp_replace(w, '(.)', '\\1//', 'g'),"
        " '//$', '_//')"
    )
    for a, b in _BPE_SF001_MERGES:
        chain = f"replace({chain}, '/{a}//{b}/', '/{a}{b}/')"
    merges_str = " ".join(f"{a}+{b}" for a, b in _BPE_SF001_MERGES)
    return f"""
    WITH d0 AS (SELECT doc_id, {duck_tokens('text')} AS toks FROM documents),
    enc AS (SELECT doc_id, toks,
                   list_transform(toks, w -> {chain}) AS encw
            FROM d0 WHERE len(toks) > 0),
    pc AS (SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  flatten(list_transform(
                      encw, s -> string_split(trim(s, '/'), '//'))) AS pieces
           FROM enc)
    SELECT doc_id, n_words, CAST(len(pieces) AS BIGINT) AS n_pieces,
           pieces, '{merges_str}' AS merges
    FROM pc ORDER BY doc_id
    """


def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan note: corpus side is tokenize → BroadcastHashJoin against
    the vocab-sized word→pieces map → one doc-keyed agg (pinned
    Python-free in tests/test_bpe.py). Learning's driver state is one
    (pair, count) row per iteration — the bounded-collect contract."""
    from ..operators.bpe import bpe_learn, bpe_segment

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_learn(d, n_merges=_BPE_MERGES)
    seg = bpe_segment(d, merges)
    return (
        seg.withColumn(
            "merges", F.lit(" ".join(f"{a}+{b}" for a, b in merges))
        ).orderBy("doc_id")
    )


_LM_BUCKETS = 4096
_LM_REF_SOURCE = "src0"  # the "clean reference" slice (CCNet's Wikipedia)


def _duck_lm_sql() -> str:
    """Twin of operators/lm.py: hashed-bigram conditional LM trained on
    the source='src0' slice, per-doc cross-entropy, value-based
    head/middle/tail terciles. Probability expressions use IDENTICAL
    literal association to the Spark side and round before bucketing."""
    from ..functions.texttools import duck_md5_long

    B = _LM_BUCKETS
    bc = f"({duck_md5_long('toks[pos]')}) % {B}"
    bw = f"({duck_md5_long('toks[pos + 1]')}) % {B}"
    return f"""
    WITH tk AS (SELECT doc_id, source, {duck_tokens('text')} AS toks
                FROM documents),
    g AS (SELECT doc_id, source, {bc} AS bc, {bw} AS bw
          FROM (SELECT doc_id, source, toks,
                       unnest(range(1, len(toks))) AS pos
                FROM tk WHERE len(toks) >= 2)),
    pairs AS (SELECT bc, bw, count(*) AS cp FROM g
              WHERE source = '{_LM_REF_SOURCE}' GROUP BY 1, 2),
    ctx AS (SELECT bc, count(*) AS cc FROM g
            WHERE source = '{_LM_REF_SOURCE}' GROUP BY 1),
    lp AS (SELECT g.doc_id AS doc_id,
                  ln((coalesce(pairs.cp, 0) + 1.0)
                     / (coalesce(ctx.cc, 0) + {float(B)})) AS lp
           FROM g LEFT JOIN pairs ON g.bc = pairs.bc AND g.bw = pairs.bw
                  LEFT JOIN ctx ON g.bc = ctx.bc),
    sc AS (SELECT doc_id, count(*) AS n_bigrams,
                  round(-sum(lp) / count(*), 4) AS ce
           FROM lp GROUP BY 1),
    w AS (SELECT d.doc_id AS doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
                 sc.ce AS ce
          FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
    hist AS (SELECT ce, count(*) AS c FROM w WHERE ce IS NOT NULL GROUP BY 1),
    cum AS (SELECT ce, sum(c) OVER (ORDER BY ce) AS cum,
                   sum(c) OVER () AS n
            FROM hist),
    thr AS (SELECT min(CASE WHEN cum * 3 >= n THEN ce END) AS t1,
                   min(CASE WHEN cum * 3 >= n * 2 THEN ce END) AS t2
            FROM cum)
    SELECT doc_id, n_bigrams, ce,
           CASE WHEN ce IS NULL THEN 'unscored'
                WHEN ce < t1 THEN 'head'
                WHEN ce < t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM w, thr ORDER BY doc_id
    """


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan note: both LM joins are BroadcastHashJoin (pinned in
    tests/test_lm.py), the only corpus shuffles are the doc-keyed score
    sum and the histogram agg; the thresholds come from a histogram-
    bounded driver collect (the oracle's cumulative window is
    DuckDB-side only), so the engine keeps its no-single-partition-
    window invariant."""
    from ..operators.lm import lm_perplexity_filter

    d = load_table(spark, sf_dir, "documents")
    return lm_perplexity_filter(
        d,
        d.filter(F.col("source") == _LM_REF_SOURCE),
        n_buckets=_LM_BUCKETS,
    ).orderBy("doc_id")


def _duck_lm_bpe_sql() -> str:
    """Tagged union of the BPE and LM oracles: each branch's SELECT is
    the standalone oracle with NULL fills for the other branch's
    columns. ``pieces`` is serialized to a '|'-joined VARCHAR — the
    driver's canonicalizer sorts result rows by every column and a
    list-typed cell is unhashable in pandas (round-7 gate failure).
    Safe because the bpe branch never emits a NULL or empty pieces
    list (``enc`` filters ``len(toks) > 0``), so the only NULL is the
    lm branch's fill, rendered identically by both engines."""
    bpe = _duck_bpe_sql().strip().rstrip()
    lm = _duck_lm_sql().strip().rstrip()
    # strip each standalone oracle's trailing ORDER BY; the union sorts
    bpe_body = bpe[: bpe.rindex("ORDER BY")]
    lm_body = lm[: lm.rindex("ORDER BY")]
    return f"""
    WITH bpe_rows AS ({bpe_body}),
    lm_rows AS ({lm_body})
    SELECT 'bpe' AS branch, doc_id, n_words, n_pieces,
           array_to_string(pieces, '|') AS pieces, merges,
           CAST(NULL AS BIGINT) AS n_bigrams, CAST(NULL AS DOUBLE) AS ce,
           CAST(NULL AS VARCHAR) AS bucket
    FROM bpe_rows
    UNION ALL
    SELECT 'lm', doc_id, NULL, NULL, CAST(NULL AS VARCHAR), NULL,
           n_bigrams, ce, bucket
    FROM lm_rows
    ORDER BY branch, doc_id
    """


@register(
    "text_lm_bpe",
    _duck_lm_bpe_sql(),
    doc=(
        "Tokenizer + fluency modeling as a tagged union (round-7 "
        "registry packing — the driver gate records at most 50 rows). "
        "'bpe' = distributed BPE (Sennrich, ACL 2016): 10 merge rules "
        "learned on the word-frequency table (vocab-sized iterations, "
        "one-row argmax collect per rule), then subword segmentation "
        "via segment-the-vocab-once + one broadcast join — the oracle "
        "pins the learned rules AND the per-doc pieces. 'lm' = CCNet "
        "perplexity filtering (Wenzek, LREC 2020): hashed-bigram LM "
        "with add-1 smoothing trained on the source='src0' reference "
        "slice (ref-bounded aggregations, broadcast tables), per-doc "
        "cross-entropy in one codegen bigram pass + two broadcast "
        "joins + a doc-keyed sum, head/middle/tail terciles by VALUE "
        "thresholds with strict comparisons (ties never split; a "
        "boundary-spanning tie sinks to the worse bucket). Branches "
        "timed separately in BENCH_DELTA.json. The oracle embeds the "
        "merge list learned on sf0.01, so it is valid at sf0.01 only: "
        "on other tables the 'bpe' rows differ from it by design."
    ),
)
def text_lm_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    nul_l = F.lit(None).cast("long")
    b = text_bpe_segment(spark, sf_dir).select(
        F.lit("bpe").alias("branch"),
        "doc_id",
        "n_words",
        "n_pieces",
        # serialize: the gate's canonicalizer can't sort array cells
        F.when(
            F.col("pieces").isNotNull(), F.concat_ws("|", F.col("pieces"))
        ).alias("pieces"),
        "merges",
        nul_l.alias("n_bigrams"),
        F.lit(None).cast("double").alias("ce"),
        F.lit(None).cast("string").alias("bucket"),
    )
    m = text_lm_perplexity(spark, sf_dir).select(
        F.lit("lm").alias("branch"),
        "doc_id",
        nul_l.alias("n_words"),
        nul_l.alias("n_pieces"),
        F.lit(None).cast("string").alias("pieces"),
        F.lit(None).cast("string").alias("merges"),
        "n_bigrams",
        "ce",
        "bucket",
    )
    return b.unionByName(m).orderBy("branch", "doc_id")

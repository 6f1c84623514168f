"""End-to-end training-data curation pipeline.

Composes the training-data operator families into the standard curation
funnel (the CCNet / Gopher / RefinedWeb shape — all public papers):

    PII scrub → language ID (+ stratified hash quota) → quality filter
    → MinHash-LSH near-dedup (cluster, keep-lowest-id) → sequence packing

Each stage is one of the already-oracled operators; this module owns the
REUSABLE signal builders (``langid_signals`` / ``quality_signals`` — the
driver rows `text_langid` / `text_quality` in queries/text.py are thin
orderBy wrappers over them) and the composition.

Scale shape of the composed pipeline, stage by stage:

- scrub + signals: pure whole-stage-codegen projections (PII regex
  chain, stopword-intersect scores, length/diversity ratios) plus ONE
  aggregation pass for the Gopher bigram-repetition signals — no UDF.
- filters: predicate on the signal columns; at 100 TB these push into
  the scan of a signals table if the scored stage is materialized.
- near-dedup: banded MinHash (bucket join) → exact-Jaccard verify →
  pointer-doubling connected components; survivors keep each
  component's smallest id. Exact duplicates collide in every band, so
  near-dedup subsumes the exact pass.
- packing: two-pass exact global prefix sum (range shuffle + broadcast
  offsets), never a single-task window.

The ``filtered`` boundary is always persisted: it feeds the shingle
index, the component join AND the packing pass, and re-deriving the
regex/signal projection three times is the one genuinely wasteful
recompute in the lineage. Callers at cluster scale should replace the
persist with a parquet write of the scored stage (the natural audit
artifact anyway).

No reference-repo equivalent (the reference is an ADS-B pipeline); the
funnel design follows the public data-curation literature cited above.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.texttools import md5_long, tokens

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "on", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "im", "für"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "dans"],
}
LANGS = ["en", "es", "de", "fr"]  # tie precedence
SAMPLE_RATES = {"en": 0.25, "es": 0.5, "de": 0.75, "fr": 1.0}
SAMPLE_MOD = 10000


MIX_ALPHA = 0.5       # temperature exponent on domain counts
MIX_BUDGET_FRAC = 0.5  # corpus fraction the mixture targets
MIX_SALT = 77          # hash salt so mix_keep is independent of sample_keep


def _lang_array(words: list[str]) -> Column:
    return F.array(*[F.lit(w) for w in words])


def domain_mixture(
    docs: DataFrame,
    *,
    domain_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = MIX_ALPHA,
    budget_frac: float = MIX_BUDGET_FRAC,
    mod: int = SAMPLE_MOD,
) -> DataFrame:
    """(doc_id, <domain_col>, mix_rate_bp, mix_keep): temperature-based
    domain rebalancing — the data-mixing step of pretraining pipelines
    (unigram-mixture reweighting as in the Pile / DoReMi-style heuristic
    baselines, all public work).

    A domain with ``c`` docs gets sampling weight ``c^alpha / Σ c^alpha``
    (``alpha < 1`` flattens the mixture toward small domains; ``alpha=1``
    keeps natural proportions), a target of ``weight · budget_frac · N``
    docs, and so a per-doc keep rate of ``min(1, target/c)``, published
    as ``mix_rate_bp`` (floor of rate·mod). ``mix_keep`` is the
    deterministic hash-quota decision — salted differently from the
    language quota so the two samplers are independent.

    Scale shape: one tiny groupBy(domain) agg (domain cardinality ≪
    corpus), a single-row totals cross-join, and a broadcast join of the
    per-domain rates back onto the corpus — the keep decision itself is
    a pure per-row projection, so the operator adds ZERO corpus-sized
    shuffles and is stable when the corpus grows (rates shift only as
    domain counts shift)."""
    # NULL domains form their own mixture group via a sentinel key — a
    # NULL group key would fail the equi-join back and silently drop the
    # doc from the funnel (r6 advice); the output column keeps the
    # original (possibly NULL) domain value
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(domain_col).alias("__orig_domain"),
        F.coalesce(F.col(domain_col), F.lit("__null_domain__")).alias("__domain"),
    )
    counts = d.groupBy("__domain").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum(F.pow("c", F.lit(float(alpha)))).alias("s"),
        F.sum("c").alias("n"),
    )
    # the rate expression is written IDENTICALLY (same association order)
    # in the DuckDB oracle — both engines evaluate it in float64
    rate = F.least(
        F.lit(1.0),
        F.pow("c", F.lit(float(alpha)))
        / F.col("s")
        * F.lit(float(budget_frac))
        * F.col("n")
        / F.col("c"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "__domain",
        F.floor(rate * int(mod)).cast("long").alias("mix_rate_bp"),
    )
    return d.join(F.broadcast(rates), "__domain").select(
        "doc_id",
        F.col("__orig_domain").alias(domain_col),
        "mix_rate_bp",
        (
            md5_long(F.concat(F.lit(f"{MIX_SALT}|"), F.col("doc_id").cast("string")))
            % int(mod)
            < F.col("mix_rate_bp")
        ).alias("mix_keep"),
    )


def _langid_enrich(frame: DataFrame, text_col: str) -> DataFrame:
    """Append the langid signal columns (s_en..s_fr, predicted_lang,
    sample_rate, sample_keep) to ANY frame carrying ``doc_id`` and
    ``text_col`` — the pure-projection core of :func:`langid_signals`,
    shared with the funnel's fused projective path (r11): column-wise
    composition instead of a doc_id self-join, zero shuffles."""
    t = frame.withColumn("__lid_toks", tokens(F.col(text_col)))
    for lg in LANGS:
        t = t.withColumn(
            f"s_{lg}",
            F.size(F.array_intersect(F.col("__lid_toks"), _lang_array(STOPWORDS[lg]))),
        )
    t = t.drop("__lid_toks")
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    t = t.withColumn("predicted_lang", pred)
    rate_expr = None
    for lg in LANGS:
        cond = F.when(F.col("predicted_lang") == lg, F.lit(SAMPLE_RATES[lg]))
        rate_expr = cond if rate_expr is None else rate_expr.when(
            F.col("predicted_lang") == lg, F.lit(SAMPLE_RATES[lg])
        )
    keep = (
        md5_long(F.col("doc_id").cast("string")) % SAMPLE_MOD
        < (rate_expr * SAMPLE_MOD).cast("long")
    )
    return t.withColumn("sample_rate", rate_expr).withColumn("sample_keep", keep)


def langid_signals(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
) -> DataFrame:
    """(doc_id, [labeled_lang], predicted_lang, s_en..s_fr, sample_rate,
    sample_keep): distinct-stopword-hit scores per language, argmax with
    fixed precedence, and the deterministic hash-quota stratified
    sample (md5(doc_id) mod 10000 < rate·10000). A pure projection —
    no shuffle; the hash quota needs no global counts, so it is stable
    when the corpus grows (see the text_langid driver row's doc)."""
    cols = [F.col(id_col).alias("doc_id")]
    if lang_col is not None:
        cols.append(F.col(lang_col).alias("labeled_lang"))
    t = _langid_enrich(
        docs.select(*cols, F.col(text_col).alias("__text")), "__text"
    )
    out_cols = ["doc_id"] + (["labeled_lang"] if lang_col is not None else [])
    return t.select(
        *out_cols,
        "predicted_lang",
        "s_en",
        "s_es",
        "s_de",
        "s_fr",
        "sample_rate",
        "sample_keep",
    )


def quality_signals(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, stopword_ratio, unique_ratio, mean_token_len,
    top_bigram_frac, dup_bigram_frac, quality_score, bag_fingerprint,
    exact_fingerprint): quality + Gopher repetition + fingerprints.

    Plan: one codegen projection pass for the ratio/score/fingerprint
    columns; the repetition signals come from position-explode →
    element_at bigram rows → two-level groupBy (partial agg; a
    `transform`-built bigram array evaluates interpreted per element,
    measured ~4× slower at sf0.1), joined back on doc_id.

    Total bigram count is derived as n_tokens-1 in the projection —
    not aggregated (see the text_quality driver row's doc)."""
    toks = tokens(F.col(text_col))
    en = _lang_array(STOPWORDS["en"])
    m = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        toks.alias("toks"),
        F.size(toks).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        F.size(F.filter(toks, lambda x: F.array_contains(en, x))).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    tk_frame = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("tk")
    )
    rep = (
        tk_frame.filter(F.size("tk") >= 2)
        .select(
            "doc_id", "tk", F.explode(F.sequence(F.lit(2), F.size("tk"))).alias("i")
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("tk", F.col("i") - 1),
                F.element_at("tk", F.col("i")),
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_c"),
            F.sum(
                F.when(F.col("count") > 1, F.col("count")).otherwise(F.lit(0))
            ).alias("dup_c"),
        )
    )
    nt = F.greatest(F.col("n_tokens"), F.lit(1))
    nbg = F.greatest(F.col("n_tokens") - 1, F.lit(1))
    return m.join(rep, "doc_id", "left").select(
        "doc_id",
        F.round(F.col("n_stop") / nt, 4).alias("stopword_ratio"),
        F.round(F.col("n_uniq") / nt, 4).alias("unique_ratio"),
        F.round(F.col("n_chars") / nt, 4).alias("mean_token_len"),
        F.round(F.coalesce(F.col("top_c"), F.lit(0)) / nbg, 4).alias("top_bigram_frac"),
        F.round(F.coalesce(F.col("dup_c"), F.lit(0)) / nbg, 4).alias("dup_bigram_frac"),
        F.round(
            F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            * (0.5 + 0.5 * (F.col("n_uniq") / nt)),
            4,
        ).alias("quality_score"),
        F.md5(F.array_join(F.array_sort(F.array_distinct("toks")), " ")).alias(
            "bag_fingerprint"
        ),
        F.md5("__text").alias("exact_fingerprint"),
    )


def vocab_coverage(
    docs: DataFrame,
    *,
    text_col: str = "text",
    top_k: int = 50_000,
) -> DataFrame:
    """(token, count, rank, cum_coverage): the ``top_k`` corpus tokens by
    frequency with their cumulative share of all token occurrences — the
    seed-vocabulary / OOV-rate planning step of tokenizer training
    (coverage at rank k = 1 − OOV rate of a k-word vocab).

    Scale shape: one token-explode + groupBy(token) count (map-side
    partial agg over the corpus — the only corpus-sized work), then a
    distributed ``orderBy(count desc).limit(top_k)`` top-k (per-partition
    heads, no global sort materialization). ONLY the retained k rows pass
    through the rank/cumsum window; its single partition is bounded by
    ``top_k`` — a documented driver-sized tail, same contract as the IVF
    seed collects, never corpus-sized. Ties rank lexicographically so the
    output is deterministic."""
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
    )
    total = counts.agg(F.sum("count").alias("__total"))
    top = counts.orderBy(F.desc("count"), F.asc("token")).limit(int(top_k))
    # constant-valued partition key: the window input is already bounded
    # to top_k rows, so one partition is the intended plan — declaring
    # the spec (pmod(crc32, 1) ≡ 0, non-foldable so Catalyst keeps it)
    # keeps WindowExec's single-partition warning out of every log the
    # driver tails
    one = F.pmod(F.crc32(F.col("token")), F.lit(1))
    w = (
        Window.partitionBy(one)
        .orderBy(F.desc("count"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wr = Window.partitionBy(one).orderBy(F.desc("count"), F.asc("token"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(wr))
        .withColumn(
            "cum_coverage", F.round(F.sum("count").over(w) / F.col("__total"), 6)
        )
        .select("token", "count", "rank", "cum_coverage")
    )


def corpus_report(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
    domain_col: str = "source",
) -> DataFrame:
    """One-pass corpus data card: per (predicted_lang × domain) rollup —
    with grand-total and per-axis subtotals via ``cube`` — of document
    count, token mass, PII incidence, exact-duplicate share, and mean
    quality. The report a curation run publishes next to its output
    (the "datasheet" aggregate of the public data-card literature).

    Composes the already-verified builders (``langid_signals``,
    ``quality_signals``, ``pii_scrub``) — each a projection or bounded
    aggregate — then ONE cube aggregation; dup share comes from the
    exact-fingerprint counts (a doc is a duplicate if its fingerprint
    appears >1 time corpus-wide). NULL predicted_lang/domain rows in
    the output are the cube subtotals. At 100 TB this is two shuffles
    (fingerprint counts + the cube) over an otherwise scan-speed plan."""
    from .scrub import pii_scrub

    lang = langid_signals(
        docs, text_col=text_col, id_col=id_col, lang_col=lang_col
    ).select("doc_id", "predicted_lang")
    # NULL text → NULL exact_fingerprint; coalesce to '' so the
    # fingerprint-count join can't silently drop NULL-text docs
    qual = quality_signals(docs, text_col=text_col, id_col=id_col).select(
        "doc_id",
        "quality_score",
        F.coalesce("exact_fingerprint", F.lit("")).alias("exact_fingerprint"),
    )
    pii = pii_scrub(docs, text_col=text_col, id_col=id_col).select(
        F.col("id").alias("doc_id"), "has_pii"
    )
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(domain_col).alias("domain"),
            F.size(tokens(F.col(text_col))).alias("n_tokens"),
        )
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(pii, "doc_id")
    )
    fp_counts = base.groupBy("exact_fingerprint").agg(
        F.count("*").alias("__fpc")
    )
    return (
        base.join(fp_counts, "exact_fingerprint")
        .cube("predicted_lang", "domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.col("has_pii").cast("long")).alias("n_pii_docs"),
            F.sum((F.col("__fpc") > 1).cast("long")).alias("n_exact_dup_docs"),
            F.round(F.avg("quality_score"), 4).alias("mean_quality"),
        )
    )


SPLIT_SALT = 91  # independent of the langid / mixture sampler salts


def dedup_aware_split(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
    train_buckets: int = 8,
    val_buckets: int = 1,
    mod: int = 10,
) -> DataFrame:
    """(doc_id, split_bucket, split): leakage-free train/val/test
    assignment — the split is a hash of the document's duplicate-GROUP
    key, not of the document, so duplicates can never straddle splits
    (the classic eval-contamination bug when splitting by row hash).

    Default (exact) mode groups byte-identical documents: group key =
    md5 of the (NULL-as-'') text, bucket = salted 60-bit hash of that
    key mod ``mod``, buckets [0, train) → 'train', [train, train+val) →
    'val', rest → 'test'. A pure projection — ZERO shuffles at any
    scale, reproducible, and stable under corpus growth (a new document
    never moves an old one's split).

    Near-dup mode: pass ``pairs`` (id_a, id_b edges from any of the
    near-dup operators) and the group key becomes the connected-
    component representative, so whole near-dup clusters land in one
    split; costs the CC passes, leaves the projection otherwise
    unchanged. ``tests/test_curation.py`` asserts the no-straddling
    invariant in both modes."""
    tb, vb = int(train_buckets), int(val_buckets)
    if not (0 < tb and 0 <= vb and tb + vb < mod):
        raise ValueError("need 0 < train_buckets, train+val < mod")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("__gkey"),
    )
    if pairs is not None:
        from .dedup import connected_components

        comps = connected_components(pairs)
        d = (
            d.join(comps.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .withColumn(
                "__gkey",
                F.coalesce(F.col("comp").cast("string"), F.col("__gkey")),
            )
            .drop("comp")
        )
    bucket = (
        md5_long(F.concat(F.lit(f"{SPLIT_SALT}|"), F.col("__gkey"))) % int(mod)
    ).cast("int")
    return d.select(
        "doc_id",
        bucket.alias("split_bucket"),
        F.when(bucket < tb, "train")
        .when(bucket < tb + vb, "val")
        .otherwise("test")
        .alias("split"),
    )


@dataclass
class CurationResult:
    """Stage DataFrames of one curate_documents run. Lazy — nothing has
    executed until a stage is acted on; ``funnel()`` runs one count job
    per stage (the `filtered` boundary is persisted, so later stages
    don't re-derive the scrub/signal projections)."""

    scored: DataFrame      # every input doc + signal/PII columns
    filtered: DataFrame    # after lang/quality/PII/quota policy
    dropped_dups: DataFrame  # (id, component) for near-dup losers
    kept: DataFrame        # filtered minus dup losers
    packed: DataFrame      # kept + pack_id / pack_offset

    def funnel(self) -> dict[str, int]:
        return {
            "input": self.scored.count(),
            "filtered": self.filtered.count(),
            "dropped_dups": self.dropped_dups.count(),
            "kept": self.kept.count(),
            "packs": (
                self.packed.agg(F.max("pack_id").alias("m")).collect()[0]["m"] or 0
            )
            + 1,
        }


def curate_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
    keep_langs: tuple[str, ...] | None = None,
    apply_lang_quota: bool = False,
    min_quality: float = 0.0,
    max_dup_bigram_frac: float = 1.0,
    drop_pii_docs: bool = False,
    redact: bool = True,
    dedup_threshold: float = 0.5,
    pack_budget: int = 512,
    apply_domain_mixture: bool = False,
    domain_col: str = "source",
    mixture_alpha: float = MIX_ALPHA,
    mixture_budget_frac: float = MIX_BUDGET_FRAC,
    remove_dup_substrings: int | None = None,
    assign_splits: bool = False,
    retention: str = "min_id",
    lm_reference: DataFrame | None = None,
    lm_keep_buckets: tuple[str, ...] = ("head", "middle"),
    lm_n_buckets: int = 4096,
    quality_model: dict | None = None,
    quality_min_prob: float | None = 0.5,
    quality_n_buckets: int = 4096,
    media_col: str | None = None,
    media_backend=None,
    media_max_hamming: int = 3,
    media_bands: int = 4,
    media_max_band_freq: int | None = None,
    host_col: str | None = None,
    host_links_col: str | None = None,
    host_trust_seeds: list | None = None,
    host_rank_iterations: int = 5,
    host_min_rank_pct: float | None = None,
    host_ranks: DataFrame | None = None,
    fuse_projective: bool = True,
) -> CurationResult:
    """Run the full curation funnel over a document corpus.

    The text that flows DOWNSTREAM of the scrub stage (dedup shingles,
    packing token counts, and the `clean_text` column of every returned
    stage) is the REDACTED text when ``redact=True`` — redaction-then-
    dedup is the order that prevents two docs differing only in a
    phone number from escaping the near-dup net.

    Optional round-6 stages, in funnel order:

    - ``apply_domain_mixture``: temperature-rebalance domains
      (``domain_mixture``) as part of the policy filter — rates come
      from the FULL corpus counts (computed pre-filter, like the lang
      quota, so the two samplers stay independent of the other
      policies).
    - ``remove_dup_substrings=k``: after near-dedup, excise token spans
      covered by corpus-duplicated k-grams from the SURVIVORS' text
      (``duplicated_substring_stats`` over the kept set — the Lee et al.
      order: document dedup first, then substring dedup inside what
      remains); ``clean_text`` and the packing token counts downstream
      see the excised text.
    - ``assign_splits``: leakage-free train/val/test on the packed
      output — the split key is the near-dup COMPONENT (the same pairs
      the dedup stage built), falling back to the exact fingerprint for
      unpaired docs, so near-dup survivors and any residual cluster
      members can never straddle splits.
    - ``lm_reference``: CCNet perplexity gate (operators/lm.py) — a
      hashed-bigram LM trains on the given clean reference corpus,
      every doc's REDACTED text is scored, and only docs whose tercile
      bucket is in ``lm_keep_buckets`` pass the policy filter (the
      default drops the worst third plus 'unscored' near-empty docs).
      Terciles are computed over the whole scored corpus, like CCNet's
      crawl-wide split; the threshold derivation is one extra
      histogram-bounded driver collect (the packing-offsets contract).
      Adds ``lm_ce`` / ``lm_bucket`` columns to every ``scored`` row.
    - ``quality_model``: learned-classifier gate (operators/
      classifier.py — train_quality_classifier's output dict): every
      doc's redacted text is scored by the hashed-bigram logistic
      regression, and the policy filter keeps docs with
      ``clf_prob >= quality_min_prob``, or — when ``quality_min_prob``
      is None — GPT-3's stochastic Pareto rule (high scorers almost
      always survive, low scorers keep a deterministic hash-derived
      long tail). Adds ``clf_prob`` to every ``scored`` row.
    - ``media_col`` (r9): media as a first-class curation citizen — when
      the corpus carries an opaque binary payload column, the dedup
      stage also collapses docs whose MEDIA are duplicates: exact
      payload-md5 groups contribute (representative, member) edges and
      the perceptual-hash banded-Hamming join (operators/multimodal.py)
      contributes near-dup edges, all unioned with the text MinHash
      pairs into ONE component graph, so the existing retention policies
      (min_id / max_quality) and the leakage-free splits apply uniformly
      across modalities. NULL payloads contribute no edges (a missing
      image must not glue unrelated docs into one cluster). Scale shape:
      the payload is hashed once (Arrow-batched mapInPandas), the exact
      pass shuffles 16-byte md5 keys, and the near-dup pass is the
      banded equi-join with its ``media_max_band_freq`` valve — no new
      corpus-sized exchange beyond those keys; payload bytes never enter
      a shuffle.
    - ``host_col`` (r10): the domain-reputation gate — the missing
      RefinedWeb-lineage stage. The host link graph (derived from
      ``host_links_col`` via :func:`~.graph.host_edges`, or supplied
      precomputed through ``host_ranks`` with a ``host`` column — the
      streaming path reads a stored generation) is ranked by ONE
      :func:`~.graph.pagerank_multi` propagation computing PageRank and
      (when ``host_trust_seeds`` is given) TrustRank together; the
      node-sized rank table broadcast-joins onto the corpus as
      ``host_pagerank_fp`` / ``host_trustrank_fp`` columns of every
      ``scored`` row. Gates compose into the policy filter like the
      langid/LM/classifier gates: TrustRank-zero hosts (unreachable
      from every vetted seed — the spam prior) are dropped whenever
      trust is computed, and ``host_min_rank_pct`` drops docs whose
      host sits below that PageRank percentile (cutoff = one bounded
      aggregate over the node table). Docs with NULL/unknown hosts fail
      enabled gates. Scale shape: edge derivation is one distinct
      shuffle, rank iterations exchange node-sized tables only, and the
      corpus-side cost is a broadcast join — no corpus shuffle.
    - ``retention``: which member of each near-dup cluster survives —
      ``'min_id'`` (deterministic canonical id, the default) or
      ``'max_quality'`` (keep the member with the highest
      quality_score, ties to the smaller id — the policy real curation
      runs use, since near-dup clusters often mix a clean original
      with boilerplate-wrapped copies). Both are one ``max_by``/``min``
      aggregate per component — no window, no extra shuffle beyond the
      component join.
    """
    from .dedup import connected_components, minhash_lsh_pairs
    from .multimodal import media_dedup_edges
    from .packing import pack_assignments
    from .scrub import pii_counts, pii_redact, pii_scrub

    qual = quality_signals(docs, text_col=text_col, id_col=id_col)
    if fuse_projective:
        # FUSED projective stages (r11, A/B-measured in
        # tools/scale.py curation_scale): scrub, langid, and the host
        # attach are all pure per-row projections, so they compose
        # COLUMN-WISE on one corpus scan instead of doc_id self-joins —
        # Catalyst does not fuse projection⋈projection self-joins (the
        # two sides are different projections of the same scan, so
        # ReusedExchange never fires), meaning the join form pays two
        # corpus exchanges this path simply doesn't have. Only the
        # aggregate-bearing quality signals (Gopher bigrams) keep the
        # join form, because their groupBy forces a doc_id exchange
        # anyway.
        base_cols = [F.col(id_col).alias("doc_id")]
        if lang_col is not None:
            base_cols.append(F.col(lang_col).alias("labeled_lang"))
        if host_col is not None:
            base_cols.append(F.col(host_col).alias("__host"))
        counts = pii_counts(F.col(text_col))
        flag = None
        for c in counts:
            term = c > 0
            flag = term if flag is None else flag | term
        base = docs.select(
            *base_cols,
            F.col(text_col).alias("__text"),
            *counts,
            flag.alias("has_pii"),
            (
                pii_redact(F.col(text_col)) if redact else F.col(text_col)
            ).alias("clean_text"),
        )
        scored = _langid_enrich(base, "__text").drop("__text").join(qual, "doc_id")
    else:
        scrubbed = pii_scrub(
            docs, text_col=text_col, id_col=id_col
        ).withColumnRenamed("id", "doc_id")
        if not redact:
            scrubbed = scrubbed.drop("clean_text").join(
                docs.select(
                    F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("clean_text"),
                ),
                "doc_id",
            )
        lang = langid_signals(
            docs, text_col=text_col, id_col=id_col, lang_col=lang_col
        )
        scored = scrubbed.join(lang, "doc_id").join(qual, "doc_id")

    cond = (F.col("quality_score") >= min_quality) & (
        F.col("dup_bigram_frac") <= max_dup_bigram_frac
    )
    if keep_langs is not None:
        cond = cond & F.col("predicted_lang").isin(list(keep_langs))
    if apply_lang_quota:
        cond = cond & F.col("sample_keep")
    if drop_pii_docs:
        cond = cond & ~F.col("has_pii")
    if apply_domain_mixture:
        mix = domain_mixture(
            docs,
            domain_col=domain_col,
            id_col=id_col,
            alpha=mixture_alpha,
            budget_frac=mixture_budget_frac,
        ).select("doc_id", "mix_keep")
        scored = scored.join(mix, "doc_id")
        cond = cond & F.col("mix_keep")
    if lm_reference is not None:
        from .lm import lm_perplexity_filter

        ppx = lm_perplexity_filter(
            scored.select("doc_id", F.col("clean_text").alias("text")),
            lm_reference,
            n_buckets=lm_n_buckets,
        ).select(
            "doc_id",
            F.col("ce").alias("lm_ce"),
            F.col("bucket").alias("lm_bucket"),
        )
        scored = scored.join(ppx, "doc_id")
        cond = cond & F.col("lm_bucket").isin(list(lm_keep_buckets))
    if quality_model is not None:
        from .classifier import pareto_keep, score_quality

        clf = score_quality(
            scored.select("doc_id", F.col("clean_text").alias("text")),
            quality_model,
            n_buckets=quality_n_buckets,
        )
        if quality_min_prob is None:
            clf = pareto_keep(clf).select(
                "doc_id", F.col("prob").alias("clf_prob"), F.col("keep").alias("clf_keep")
            )
        else:
            clf = clf.select(
                "doc_id",
                F.col("prob").alias("clf_prob"),
                (F.col("prob") >= float(quality_min_prob)).alias("clf_keep"),
            )
        scored = scored.join(clf, "doc_id")
        cond = cond & F.col("clf_keep")
    if host_col is not None:
        from .graph import host_edges, pagerank_multi

        ranks = host_ranks
        if ranks is None:
            if host_links_col is None:
                raise ValueError(
                    "host_col given but neither host_links_col (to derive "
                    "the host graph) nor host_ranks (a precomputed rank "
                    "table) — nothing to rank hosts with"
                )
            teleports: dict[str, list | None] = {"host_pagerank_fp": None}
            if host_trust_seeds is not None:
                teleports["host_trustrank_fp"] = list(host_trust_seeds)
            ranks = pagerank_multi(
                host_edges(docs, host_col=host_col, links_col=host_links_col),
                teleports=teleports,
                iterations=host_rank_iterations,
            ).withColumnRenamed("node", "__host")
        else:
            ranks = ranks.withColumnRenamed("host", "__host")
        # the rank table is NODE-sized (hosts, not documents): broadcast
        # it so the corpus never shuffles for this dimension join. Docs
        # whose host is NULL or absent from the graph get NULL ranks —
        # and FAIL any enabled host gate (no reputation signal does not
        # pass a reputation gate; disable the gates to keep them).
        if fuse_projective:
            # __host rode along in the fused base projection — the rank
            # attach is the broadcast join alone, no doc_id self-join
            scored = scored.join(F.broadcast(ranks), "__host", "left").drop(
                "__host"
            )
        else:
            doc_hosts = docs.select(
                F.col(id_col).alias("doc_id"), F.col(host_col).alias("__host")
            )
            scored = (
                scored.join(doc_hosts, "doc_id")
                .join(F.broadcast(ranks), "__host", "left")
                .drop("__host")
            )
        if "host_trustrank_fp" in ranks.columns:
            # TrustRank-zero = unreachable from every vetted seed — the
            # spam-demotion prior: those hosts' documents are dropped
            cond = cond & (F.coalesce(F.col("host_trustrank_fp"), F.lit(0)) > 0)
        if host_min_rank_pct is not None:
            # one bounded driver action over the node-sized rank table;
            # percentile_approx(10k) keeps the agg buffer bounded at web
            # host counts while being exact for dimension-sized tables
            cutoff = ranks.agg(
                F.percentile_approx(
                    "host_pagerank_fp", float(host_min_rank_pct), 10_000
                ).alias("c")
            ).collect()[0]["c"]
            cond = cond & (F.col("host_pagerank_fp") >= F.lit(cutoff))
    filtered = scored.filter(cond).persist()

    pairs = minhash_lsh_pairs(
        filtered, text_col="clean_text", id_col="doc_id", threshold=dedup_threshold
    ).select("id_a", "id_b")
    if media_col is not None:
        pairs = pairs.unionByName(
            media_dedup_edges(
                docs.select(
                    F.col(id_col).alias("media_id"), F.col(media_col).alias("payload")
                ).join(
                    filtered.select(F.col("doc_id").alias("media_id")),
                    "media_id",
                    "left_semi",
                ),
                backend=media_backend,
                max_hamming=media_max_hamming,
                bands=media_bands,
                max_band_freq=media_max_band_freq,
            )
        )
    comps = connected_components(pairs)
    if retention == "min_id":
        dropped = comps.filter(F.col("id") != F.col("comp"))
    elif retention == "max_quality":
        members = comps.join(
            filtered.select(F.col("doc_id").alias("id"), "quality_score"), "id"
        )
        winners = members.groupBy("comp").agg(
            F.max_by(
                "id",
                # tie-break on the long directly: a double cast loses
                # precision above 2^53 and could flip the smaller-id rule
                F.struct(
                    F.col("quality_score"), (-F.col("id")).alias("neg_id")
                ),
            ).alias("__winner")
        )
        dropped = (
            members.join(winners, "comp")
            .filter(F.col("id") != F.col("__winner"))
            .select("id", "comp")
        )
    else:
        raise ValueError(f"unknown retention policy: {retention!r}")
    kept = filtered.join(
        dropped.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    )
    if remove_dup_substrings is not None:
        from .dedup import duplicated_substring_stats

        excised = duplicated_substring_stats(
            kept, text_col="clean_text", id_col="doc_id", k=int(remove_dup_substrings)
        ).select("doc_id", "dedup_text", "n_dup_tokens")
        # dedup_text is tokens() re-joined (lowercased, punctuation
        # stripped) — only docs with an actual excision may be rewritten;
        # untouched survivors keep their text byte-exactly (r6 advice)
        kept = (
            kept.withColumnRenamed("clean_text", "__pre_excise")
            .join(excised, "doc_id")
            .withColumn(
                "clean_text",
                F.when(F.col("n_dup_tokens") > 0, F.col("dedup_text")).otherwise(
                    F.col("__pre_excise")
                ),
            )
            .drop("dedup_text", "__pre_excise")
        )
    packed = pack_assignments(
        kept.withColumn("n_tokens", F.size(tokens(F.col("clean_text")))),
        budget=pack_budget,
        token_col="n_tokens",
        order_col="doc_id",
    )
    if assign_splits:
        splits = dedup_aware_split(
            kept.select("doc_id", F.col("clean_text").alias("text")), pairs=pairs
        ).select("doc_id", "split_bucket", "split")
        packed = packed.join(splits, "doc_id")
    return CurationResult(
        scored=scored,
        filtered=filtered,
        dropped_dups=dropped.withColumnRenamed("comp", "component"),
        kept=kept,
        packed=packed,
    )


CLUSTER_MIX_SALT = 67  # independent of the langid / domain / split salts


def cluster_mixture(
    embeddings: DataFrame,
    *,
    n_lists: int = 64,
    iters: int = 2,
    alpha: float = MIX_ALPHA,
    budget_frac: float = MIX_BUDGET_FRAC,
    mod: int = SAMPLE_MOD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, list_id, mix_rate_bp, mix_keep): ``domain_mixture`` for
    corpora WITHOUT domain labels — cluster the embedding space with the
    IVF k-means (operators/similarity.ivf_build) and temperature-
    rebalance the LEARNED clusters instead of label groups. The
    semantic data-mixing step (cluster-proportional resampling as in
    ClusterClip-style balancing / DoReMi-flavor heuristics — public
    work): over-represented semantic regions are downsampled toward
    ``c^alpha`` shares so one dominant content type can't swamp the
    training mix.

    Same rate law and hash-quota determinism as ``domain_mixture``
    (independently salted); accepts precomputed ``assignments`` — e.g.
    read back from the stored IVF layout's ``list_id=`` partitions —
    so at 100 TB the clustering is amortized into the index build and
    this operator is one tiny per-cluster agg + a broadcast rate join,
    zero corpus-sized shuffles beyond the (optional) assignment pass."""
    if assignments is None:
        from .similarity import ivf_build

        assignments, _ = ivf_build(
            embeddings, n_lists=n_lists, iters=iters, id_col=id_col, vec_col=vec_col
        )
    d = assignments.select(F.col("id").alias("doc_id"), "list_id")
    counts = d.groupBy("list_id").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum(F.pow("c", F.lit(float(alpha)))).alias("s"),
        F.sum("c").alias("n"),
    )
    rate = F.least(
        F.lit(1.0),
        F.pow("c", F.lit(float(alpha)))
        / F.col("s")
        * F.lit(float(budget_frac))
        * F.col("n")
        / F.col("c"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "list_id",
        F.floor(rate * int(mod)).cast("long").alias("mix_rate_bp"),
    )
    return d.join(F.broadcast(rates), "list_id").select(
        "doc_id",
        "list_id",
        "mix_rate_bp",
        (
            md5_long(
                F.concat(F.lit(f"{CLUSTER_MIX_SALT}|"), F.col("doc_id").cast("string"))
            )
            % int(mod)
            < F.col("mix_rate_bp")
        ).alias("mix_keep"),
    )

"""Learned quality classification: distributed logistic regression on
hashed n-gram features.

The classifier member of the quality family, next to the heuristic
gates (operators/curation.py) and the LM perplexity filter
(operators/lm.py) — the "train a small quality classifier on
good-vs-random documents and keep what scores well" step that GPT-3's
data pipeline popularized (Brown et al. 2020 §A; features follow
fastText's hashed bag-of-ngrams, Joulin et al. 2016 — public papers).

Model: logistic regression over B hashed bigram buckets with per-doc
L1-normalized counts (x_b = c_b / Σc), trained by full-batch gradient
descent:

    p_i   = σ(Σ_b w_b·x_ib + bias)
    grad  = (1/N)·Σ_i (p_i − y_i)·x_i  + λ·w

Scale shape:

- the TRAINING corpus is bounded by contract (a clean reference slice
  plus a sampled negative set — the same ref ≪ raw contract as the LM
  filter and decontamination). Its feature rows are built once and
  persisted; every iteration is one pass over them.
- per iteration: margins = feature rows ⋈ BROADCAST weight table
  (≤B rows) → doc-keyed sum; the gradient is one B-BOUNDED groupBy
  aggregation. Driver state is the weight vector — B doubles, never
  corpus-sized (the bounded-collect contract).
- scoring the full corpus is ONE pass: the gram projection, a
  broadcast weights join, a doc-keyed sum — identical shape to DSIR
  scoring and LM cross-entropy. No Python on any per-row path; the
  sigmoid/threshold is a codegen expression.

Training uses float sums whose partition order Spark does not fix, so
two runs can differ in the last ulps — tests assert separation and
loss descent, not bit-equal weights; no DuckDB oracle (iterative), the
documented carve-out pytest covers.

No reference-repo equivalent (the reference is an ADS-B pipeline);
this is a training-data extension like operators/lm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.texttools import md5_long, tokens
from ..session import local_frame


def hashed_features(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 4096,
) -> DataFrame:
    """(doc_id, bucket, x): L1-normalized hashed n-gram counts per
    document — one codegen gram projection + one (doc, bucket)-keyed
    count. Docs with no n-grams contribute no rows (they score at the
    bias downstream)."""
    B = int(n_buckets)
    d = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    g = (
        d.filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - (n - 1))).alias("pos"),
            "toks",
        )
        .select(
            "doc_id",
            (
                md5_long(F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), n)))
                % B
            ).alias("bucket"),
        )
    )
    counts = g.groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    return counts.join(totals, "doc_id").select(
        "doc_id", "bucket", (F.col("c") / F.col("tot")).alias("x")
    )


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 4096,
    n_iters: int = 30,
    lr: float = 8.0,
    l2: float = 1e-6,
) -> dict:
    """Train the classifier on positive (reference-quality) vs negative
    (random/raw) documents. Returns {"weights": {bucket: w}, "bias": b,
    "losses": [per-iteration log loss]} — driver state is B-bounded.

    Doc ids on the two sides may overlap; they are relabeled
    internally. Every iteration runs two bounded jobs over the
    persisted feature rows: a margin pass (broadcast weights join +
    doc sum) and the B-bounded gradient aggregation."""
    spark = pos.sparkSession
    B = int(n_buckets)
    p = pos.select(F.col(id_col).alias("raw_id"), F.col(text_col).alias("text"))
    q = neg.select(F.col(id_col).alias("raw_id"), F.col(text_col).alias("text"))
    labeled = (
        p.withColumn("y", F.lit(1.0)).withColumn("side", F.lit(0))
        .unionByName(q.withColumn("y", F.lit(0.0)).withColumn("side", F.lit(1)))
        .withColumn("doc_id", F.xxhash64("side", "raw_id"))
    )
    feats = hashed_features(
        labeled, text_col="text", id_col="doc_id", n=n, n_buckets=B
    ).join(labeled.select("doc_id", "y"), "doc_id").persist()
    n_docs = labeled.count()
    feats.count()
    weights: dict[int, float] = {}
    bias = 0.0
    losses: list[float] = []
    try:
        for _ in range(int(n_iters)):
            w_rows = [(int(b_), float(w)) for b_, w in weights.items()] or [(-1, 0.0)]
            w_df = local_frame(spark, w_rows, "bucket long, w double")
            margins = (
                feats.join(F.broadcast(w_df), "bucket", "left")
                .groupBy("doc_id", "y")
                .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("x")).alias("m"))
                .select(
                    "doc_id",
                    "y",
                    (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("m") + F.lit(bias))))).alias("p"),
                )
            )
            # log loss + gradient in ONE aggregation pass each
            stats = margins.agg(
                F.avg(
                    -(
                        F.col("y") * F.log(F.greatest(F.col("p"), F.lit(1e-12)))
                        + (1.0 - F.col("y"))
                        * F.log(F.greatest(1.0 - F.col("p"), F.lit(1e-12)))
                    )
                ).alias("loss"),
                F.sum(F.col("p") - F.col("y")).alias("gb"),
            ).collect()[0]
            grad_rows = (
                feats.join(margins.select("doc_id", "p", F.col("y").alias("yy")), "doc_id")
                .groupBy("bucket")
                .agg(F.sum((F.col("p") - F.col("yy")) * F.col("x")).alias("g"))
                .collect()  # ≤B rows — the bounded-driver contract
            )
            losses.append(float(stats["loss"]))
            for r in grad_rows:
                b_ = int(r["bucket"])
                w_old = weights.get(b_, 0.0)
                weights[b_] = w_old - lr * (r["g"] / n_docs + l2 * w_old)
            bias -= lr * float(stats["gb"]) / n_docs
    finally:
        feats.unpersist()
    return {"weights": weights, "bias": bias, "losses": losses}


def score_quality(
    docs: DataFrame,
    model: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 4096,
) -> DataFrame:
    """(doc_id, logit, prob): classifier score for every document —
    one gram pass, one broadcast weights join, one doc-keyed sum.
    Docs with no n-grams score at the bias."""
    spark = docs.sparkSession
    w_rows = [(int(b_), float(w)) for b_, w in model["weights"].items()] or [
        (-1, 0.0)
    ]
    w_df = local_frame(spark, w_rows, "bucket long, w double")
    bias = float(model["bias"])
    feats = hashed_features(
        docs, text_col=text_col, id_col=id_col, n=n, n_buckets=n_buckets
    )
    scored = (
        feats.join(F.broadcast(w_df), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("x")).alias("m"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("m"), F.lit(0.0)) + F.lit(bias)).alias("logit"),
        )
        .withColumn("prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))))
    )


def pareto_keep(scored: DataFrame, *, alpha: float = 9.0, salt: int = 83) -> DataFrame:
    """GPT-3's stochastic keep rule (Brown et al. 2020 §A): keep a doc
    iff ``score > 1 − X`` with deterministic hash-derived
    X ~ Pareto(α) — high-scoring docs almost always survive, low
    scorers keep a long tail so the kept set isn't a hard cliff.
    Deterministic twin of the paper's np.random.pareto draw: the
    uniform comes from md5(salt|doc_id), X = (1/u^(1/α)) − 1."""
    from ..functions.texttools import salted_md5_long

    M = 1_000_000
    u = (
        salted_md5_long(F.col("doc_id").cast("string"), salt) % M + F.lit(0.5)
    ) / M
    x = F.pow(u, -1.0 / float(alpha)) - 1.0
    return scored.withColumn("pareto_x", x).withColumn(
        "keep", F.col("prob") > (F.lit(1.0) - F.col("pareto_x"))
    )

"""Scale scenarios: one runner over a table of named measurements.

Each scenario names a default size ``n``, an optional ``inputs`` builder
and a ``run`` function. The runner owns everything else: argv, the
Spark session, the untimed persist+count of every input frame, the
wall clock around ``run``, and the one JSON line it prints. A result
may carry a ``checks`` dict of booleans; the exit status is 0 only if
all of them hold.

Usage, from any directory: python tools/scale.py <scenario> [n] [flag ...]

- ``prefix_crossover`` (n docs, default 2000): naive-vs-prefix-filter
  Jaccard dedup on corpora with a growing boilerplate share; backs
  ``operators/dedup.py::NAIVE_FANOUT_CUTOFF``. Every 10th doc is a
  near-duplicate of its neighbour, so each level has pairs to find;
  checks that both operators find the same ones.
- ``curation_scale`` (n docs, default 1M): the composed
  ``curate_documents`` funnel on the planted-duplicate corpus. Flags
  ``--full``, ``--gates``, ``--media``, ``--graph`` turn on optional
  stages; ``--no-fuse`` runs the doc_id self-join form of the
  projective stages, the A/B behind ``fuse_projective``.
- ``ingest_floor`` (n docs per batch, default 5000): per-stage wall of
  the all-stores streaming curation ingest at n and 10n docs, plus the
  MV-cascade ingest rate ``bench.py`` reports.

The corpus generators the tests share live here too.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass


def make_clustered_vectors(
    spark, n: int, dim: int, n_clusters: int, *, seed: int = 0, noise: float = 0.5
):
    """(vec_id long, embedding array<double>) — n vectors in n_clusters
    well-separated latent clusters. Fully deterministic regardless of
    partitioning: every value is a pure function of (vec_id, dim index)
    via quasi-random sin folding, so reruns and different parallelism
    produce the identical corpus (no RNG-per-partition seeding traps).

    ``noise`` scales the within-cluster spread. The tight default (0.5
    vs center scale 4.0) makes cluster membership unambiguous — right
    for coarse-quantizer recall tests, but degenerate for PQ: every
    member collapses to the same code and ADC ties id-break. Raise it
    (e.g. 2.0) for a corpus where PQ codes must discriminate WITHIN a
    cluster — the regime real embedding corpora live in."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (n_clusters, dim)) * 4.0
    bc = spark.sparkContext.broadcast(centers)
    # per-dimension irrational multipliers make sin(id * m_j) decorrelated
    mults = np.sqrt(np.arange(2, dim + 2, dtype=np.float64))

    def gen(batches):
        c = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            cl = ids % c.shape[0]
            nz = np.sin(np.outer(ids + 1, mults)) * noise
            mat = c[cl] + nz
            yield pd.DataFrame({"vec_id": ids, "embedding": list(mat)})

    return (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
    )


def make_corpus(spark, n: int):
    """(doc_id long, text string) with planted duplicates. Every token
    is a pure function of (doc_id, position), so the corpus is stable
    under partitioning and reruns:

    - base docs: 40 tokens from a 50k-word vocabulary;
    - ids with id % 20 == 1 are near-dups of id-1 (last token changed:
      3 of 38 shingles differ, true Jaccard ≈ 0.92);
    - ids with id % 50 == 2 are byte-identical copies of id-2."""
    import numpy as np
    import pandas as pd

    n_tok, vocab = 40, 50_000
    mults = np.sqrt(np.arange(2, n_tok + 2, dtype=np.float64))

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            base = np.where(ids % 20 == 1, ids - 1, ids)  # near-dup source
            base = np.where(base % 50 == 2, base - 2, base)  # exact-dup source
            words = (
                np.abs(np.sin(np.outer(base + 7, mults))) * vocab
            ).astype(np.int64) % vocab
            # near-dups: swap the LAST token only (base stays shared)
            last = np.where(ids % 20 == 1, (words[:, -1] + 1 + ids) % vocab, words[:, -1])
            words[:, -1] = last
            texts = [
                " ".join(f"w{w:05d}" for w in row) for row in words
            ]
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "doc_id long, text string")
    )


def synth_corpus(spark, n_docs: int, boiler_tokens: int, unique_tokens: int = 60):
    """Every doc = one shared boilerplate template + a unique tail.
    Deterministic (seeded by doc id), built with Spark-side functions."""
    from pyspark.sql import functions as F

    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        _synth_text(F.col("id"), boiler_tokens, unique_tokens).alias("text"),
    )


def _synth_text(doc_id, boiler_tokens: int, unique_tokens: int = 60):
    """``synth_corpus``'s text for ``doc_id``, as a Column."""
    from pyspark.sql import functions as F

    boiler = " ".join(f"boiler{i}" for i in range(boiler_tokens))
    return F.concat_ws(
        " ",
        F.lit(boiler),
        *[
            F.concat(F.lit(f"u{j}_"), F.substring(F.md5(F.concat_ws("_", doc_id, F.lit(j))), 1, 8))
            for j in range(unique_tokens)
        ],
    )


# --- prefix_crossover -------------------------------------------------------
# The naive inverted-index join meets every doc pair sharing ANY shingle:
# on a boilerplate-heavy corpus (every doc carries a hot template, the
# web-dedup regime) its candidate fan-out is quadratic in hot-shingle
# frequency. Prefix filtering (AllPairs/PPJoin) indexes only each doc's
# rarest prefix, so hot template shingles never generate candidates.
# Unique content stays dominant (prefixes hold only rare shingles at
# t=0.5); the boilerplate share drives the naive join's fan-out.
_BOILER_LEVELS = (0, 8, 16, 32)


def _crossover_inputs(spark, n, flags):
    return {b: _near_dup_corpus(spark, n, b) for b in _BOILER_LEVELS}


def _near_dup_corpus(spark, n: int, boiler_tokens: int):
    """``synth_corpus`` with planted pairs: every doc with id % 10 == 1
    copies doc id-1's text except the last token, its own. With 3-word
    shingles the pair shares all but 3 of ~58 tail shingles (Jaccard
    ~0.9 at every boilerplate level), while unplanted pairs share only
    the template (Jaccard < 0.25), so the pairs found at t=0.5 are
    exactly the planted ones."""
    from pyspark.sql import functions as F

    doc_id = F.col("id")
    own = _synth_text(doc_id, boiler_tokens)
    copied = F.concat_ws(
        " ",
        F.regexp_replace(_synth_text(doc_id - 1, boiler_tokens), r" \S+$", ""),
        F.substring_index(own, " ", -1),
    )
    return spark.range(n).select(
        doc_id.alias("doc_id"),
        F.when(doc_id % 10 == 1, copied).otherwise(own).alias("text"),
    )


def _crossover_run(spark, n, inputs, flags):
    from adsb_clickhouse_spark.operators import dedup as D

    ops = {"naive": D.ngram_jaccard_pairs, "prefix": D.ngram_jaccard_pairs_prefix}
    levels = []
    for boiler, docs in inputs.items():
        times: dict[str, list[float]] = {k: [] for k in ops}
        pairs: dict[str, int] = {}
        for _ in range(3):
            for k, op in ops.items():
                t0 = time.perf_counter()
                pairs[k] = op(docs, threshold=0.5).count()
                times[k].append(time.perf_counter() - t0)
        levels.append({
            "boiler_tokens": boiler,
            "hot_shingle_freq": n if boiler >= 3 else 0,
            **{f"{k}_s": round(statistics.median(v), 2) for k, v in times.items()},
            **{f"{k}_pairs": v for k, v in pairs.items()},
        })
    match = all(lv["naive_pairs"] == lv["prefix_pairs"] for lv in levels)
    return {"levels": levels, "checks": {"pairs_match": match}}


# --- curation_scale ---------------------------------------------------------
# make_corpus pushed through curate_documents: scrub → langid → quality →
# near-dedup → pack, with per-stage counts.
#   --full   domain-mixture rebalance over a 90/9/1% web/books/wiki source
#            column, duplicated-substring excision (k=8), split assignment
#   --gates  CCNet perplexity gate: 2% of docs rewritten as fluent junk
#            from an alien vocabulary, a 1% clean sample as LM reference
#   --media  640-byte payloads: 1% byte-exact copies of the neighbour's
#            payload, 1% perceptual near-copies (first blockhash block
#            forced to 0xFF, hamming <= 3), the rest unique random bytes
#   --graph  10k hosts, power-law doc->host map, a 3-out-degree host
#            link graph, a spam ring unreachable from 50 trust seeds
#   --no-fuse  the doc_id self-join form of the projective stages
_JUNK = ("zorp blix quux fendle wark jibber flonk trazzle mimsy "
         "borogove wabe gyre gimble tove rath outgrabe snicker snack "
         "vorpal frumious bandersnatch tulgey uffish manxome ")


def _media_payloads(corpus):
    import pandas as pd
    from pyspark.sql import types as T

    def gen(it):
        import numpy as np

        for pdf in it:
            payloads = []
            for did in pdf["doc_id"]:
                src = did - 1 if did % 100 in (1, 3) else did
                rs = np.random.RandomState(int(src) % (2**31))
                px = rs.randint(0, 256, 640).astype(np.uint8)
                if did % 100 == 3:
                    px[:5] = 255
                payloads.append(px.tobytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    return corpus.join(corpus.select("doc_id").mapInPandas(gen, schema), "doc_id")


def _host_graph(corpus):
    from pyspark.sql import functions as F

    # doc->host is power-law-ish (quadratic fold of a multiplicative
    # hash, so low host ids get many docs); hosts with id%50==7 form the
    # spam ring (each links only its ring successor); everyone else
    # links to 3 pseudo-random hosts, so trust percolates from the seeds
    # to nearly the whole non-spam web within 5 iterations
    n_hosts = 10_000
    h = (F.col("doc_id") * 2654435761) % (n_hosts * n_hosts)
    host_id = F.floor(F.sqrt(h.cast("double"))).cast("long") % n_hosts
    spam = F.col("host_id") % 50 == 7
    spam_next = (F.col("host_id") + 50) % n_hosts
    return (
        corpus.withColumn("host_id", host_id)
        .withColumn(
            "host",
            F.when(spam, F.concat(F.lit("spam"), F.col("host_id").cast("string")))
            .otherwise(F.concat(F.lit("h"), F.col("host_id").cast("string"))),
        )
        .withColumn(
            "out_links",
            F.when(spam, F.array(F.concat(F.lit("spam"), spam_next.cast("string"))))
            .otherwise(F.array(*[
                F.concat(
                    F.lit("h"),
                    ((F.col("host_id") * 2654435761 + F.lit(k)) % n_hosts).cast("string"),
                )
                for k in (1, 2, 3)
            ])),
        )
        .drop("host_id")
    )


def _curation_inputs(spark, n, flags):
    from pyspark.sql import functions as F

    corpus = make_corpus(spark, n).withColumn("lang", F.lit("en"))
    if "--full" in flags:
        corpus = corpus.withColumn(
            "source",
            F.when(F.col("doc_id") % 100 < 90, "web")
            .when(F.col("doc_id") % 100 < 99, "books")
            .otherwise("wiki"),
        )
    if "--gates" in flags:
        corpus = corpus.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 50 == 3,
                F.concat(F.lit(_JUNK), F.col("doc_id").cast("string")),
            ).otherwise(F.col("text")),
        )
    if "--media" in flags:
        corpus = _media_payloads(corpus)
    if "--graph" not in flags:
        return {"corpus": corpus}
    corpus = _host_graph(corpus)
    # 50 vetted seeds drawn from hosts that provably have out-links
    # (pagerank_multi enforces every seed is a graph node)
    seeds = (
        corpus.filter(~F.col("host").startswith("spam") & (F.col("host") != "h0"))
        .select("host").distinct().orderBy("host").limit(50)
    )
    return {"corpus": corpus, "seeds": seeds}


def _curation_run(spark, n, inputs, flags):
    from pyspark.sql import functions as F

    from adsb_clickhouse_spark.operators.curation import curate_documents

    corpus = inputs["corpus"]
    extra: dict = {}
    if "--full" in flags:
        extra.update(
            apply_domain_mixture=True, mixture_alpha=0.5,
            mixture_budget_frac=0.6, remove_dup_substrings=8, assign_splits=True,
        )
    if "--gates" in flags:
        extra["lm_reference"] = corpus.filter(
            (F.col("doc_id") % 97 == 11) & (F.col("doc_id") % 50 != 3)
        ).select("doc_id", "text")
        extra["lm_n_buckets"] = 4096
    if "--media" in flags:
        extra.update(media_col="payload", media_max_band_freq=10_000)
    if "--graph" in flags:
        extra.update(
            host_col="host", host_links_col="out_links",
            host_trust_seeds=[r["host"] for r in inputs["seeds"].collect()],
        )
    res = curate_documents(
        corpus, min_quality=0.1, dedup_threshold=0.5, pack_budget=2048,
        fuse_projective="--no-fuse" not in flags, **extra,
    )
    out = res.funnel()
    # funnel's max(pack_id) already ran the prefix-sum job; count the
    # rows too so the full packed output materializes
    out["packed_rows"] = res.packed.count()
    if "--media" in flags:
        # planted media copies are the HIGHER id of each (i-1, i) pair;
        # min_id retention must condemn exactly those still in the
        # filtered set (text policies may have dropped some first)
        fil_ids = res.filtered.select("doc_id")
        planted = fil_ids.filter((F.col("doc_id") % 100).isin(1, 3)).join(
            fil_ids.select((F.col("doc_id") + 1).alias("doc_id")),
            "doc_id",
            "left_semi",  # the copied partner (i-1) must also be in play
        )
        out["media_planted_pairs_in_filtered"] = planted.count()
        out["media_planted_dropped"] = planted.join(
            res.dropped_dups.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
        ).count()
    if "--graph" in flags:
        spam_docs = corpus.filter(F.col("host").startswith("spam"))
        out["spam_host_docs"] = spam_docs.count()
        out["spam_docs_surviving_trust_gate"] = res.filtered.join(
            spam_docs.select("doc_id"), "doc_id", "left_semi"
        ).count()
        out["hosts_ranked"] = res.scored.filter(
            F.col("host_pagerank_fp").isNotNull()
        ).select("doc_id").count()
    if "--gates" in flags:
        out["junk_planted"] = corpus.filter(F.col("doc_id") % 50 == 3).count()
        out["junk_surviving_lm_gate"] = res.filtered.filter(
            F.col("doc_id") % 50 == 3
        ).count()
    if "--full" in flags:
        out["split_sizes"] = {
            r["split"]: r["n"]
            for r in res.packed.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        out["excised_tokens"] = int(
            res.packed.agg(F.sum("n_dup_tokens")).collect()[0][0] or 0
        )
    return out


# --- ingest_floor -----------------------------------------------------------
# Stages whose wall is about equal at n and 10n docs are the FIXED
# per-batch floor (job scheduling, parquet commit, store metadata
# reads); stages that grow with the batch are honest work.
def _floor_size(spark, n: int) -> dict:
    from bench import all_stores_batch, all_stores_ingest

    base = tempfile.mkdtemp(prefix=f"floor_{n}_")
    try:
        ing = all_stores_ingest(base)
        total: list[float] = []
        stage_runs: dict[str, list[float]] = {}
        for b in range(4):  # batch 0 is an untimed warm-up (plan JIT)
            t0 = time.perf_counter()
            ing.process_batch(all_stores_batch(spark, b * n, n), batch_id=b)
            wall = time.perf_counter() - t0
            if b == 0:
                continue
            total.append(round(wall, 2))
            for s, v in ing.last_stage_wall.items():
                stage_runs.setdefault(s, []).append(v)
        return {
            "batch_docs": n,
            "total_sec": total,
            "total_median": round(statistics.median(total), 2),
            "stages": {
                s: round(statistics.median(v), 2)
                for s, v in sorted(stage_runs.items())
            },
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _floor_run(spark, n, inputs, flags):
    from bench import measure_ingest_rate

    runs = [_floor_size(spark, n), _floor_size(spark, 10 * n)]
    small, big = runs[0]["stages"], runs[1]["stages"]
    # the wall that did NOT move with a 10x batch bounds the floor
    floor = {s: min(v, big.get(s, v)) for s, v in small.items()}
    # store_appends_total SPANS the per-append walls (which also overlap
    # each other), so the total counts that section once
    skip = (
        {s for s in floor if s.endswith("_append")}
        if "store_appends_total" in floor
        else set()
    )
    return {
        "runs": runs,
        "mv_cascade_ingest": measure_ingest_rate(spark),
        "fixed_floor_est": floor,
        "fixed_floor_total_est": round(
            sum(v for s, v in floor.items() if s not in skip), 2
        ),
    }


@dataclass(frozen=True)
class Scenario:
    default_n: int
    run: Callable  # (spark, n, inputs, flags) -> dict
    inputs: Callable | None = None  # (spark, n, flags) -> {name: DataFrame}
    flags: tuple[str, ...] = ()


SCENARIOS: dict[str, Scenario] = {
    "prefix_crossover": Scenario(2000, _crossover_run, _crossover_inputs),
    "curation_scale": Scenario(
        1_000_000, _curation_run, _curation_inputs,
        ("--full", "--gates", "--media", "--graph", "--no-fuse"),
    ),
    "ingest_floor": Scenario(5_000, _floor_run),
}


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    usage = f"usage: scale.py {{{','.join(SCENARIOS)}}} [n] [flag ...]"
    if not argv or argv[0] not in SCENARIOS:
        print(usage, file=sys.stderr)
        return 2
    name, rest = argv[0], argv[1:]
    spec = SCENARIOS[name]
    flags = frozenset(a for a in rest if a.startswith("--"))
    sizes = [a for a in rest if not a.startswith("--")]
    if not flags <= set(spec.flags) or len(sizes) > 1 or not all(map(str.isdigit, sizes)):
        print(f"{usage}\n{name} flags: {' '.join(spec.flags) or 'none'}", file=sys.stderr)
        return 2
    n = int(sizes[0]) if sizes else spec.default_n

    from adsb_clickhouse_spark.session import get_spark

    spark = get_spark(f"scale-{name}")
    inputs = spec.inputs(spark, n, flags) if spec.inputs else {}
    for df in inputs.values():  # materialized untimed: timings exclude generation
        df.persist().count()
    t0 = time.perf_counter()
    out = spec.run(spark, n, inputs, flags)
    wall = time.perf_counter() - t0
    for df in inputs.values():
        df.unpersist()
    print(json.dumps({
        "scenario": name, "n": n, "flags": sorted(flags), **out,
        "wall_sec": round(wall, 2),
    }))
    return 0 if all(out.get("checks", {}).values()) else 1


if __name__ == "__main__":
    # the driver imports the package and bench.py from the repo root, and
    # Spark's Python workers find it through PYTHONPATH, set before the
    # JVM that starts them exists
    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, _repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [_repo, os.environ.get("PYTHONPATH")]))
    raise SystemExit(main())

"""CLI: `python -m adsb_clickhouse_spark <cmd>`.

Commands:
  demo             fixtures → full MV cascade ×4 sources → reference views →
                   dashboard queries, printed
  maintain         TTL partition drops + state expiry for a data dir
  stats            table_stats() for a data dir
  curate-maintain  streaming-curation store lifecycle for an ingest base
                   dir: fold committed fingerprint segments into the
                   bucketed store table, optionally run the periodic
                   near-dedup compaction over the curated table
"""

from __future__ import annotations

import argparse
import sys
import tempfile
from datetime import datetime, timedelta


def _engine(base_dir: str, now=None):
    from .engine import AdsbEngine
    from .session import get_spark

    return AdsbEngine(get_spark("adsb-cli"), base_dir, now=now)


def cmd_demo(args) -> int:
    from .config import SOURCES
    from .sources.fixtures import raw_batch

    base = args.data_dir or tempfile.mkdtemp(prefix="adsb_demo_")
    now = datetime(2026, 1, 15, 12, 0, 0)
    eng = _engine(base, now=now)
    print(f"# ingesting fixture batches into {base}")
    for name, cfg in SOURCES.items():
        raw = raw_batch(eng.spark, cfg, n_aircraft=200, n_scrapes=3)
        eng.ingest_batch(name, raw)
        print(f"  {name}: ingested")
    views = eng.register_views()
    print(f"# registered views: {', '.join(views)}")
    print("# current positions (global_stream, geomap panel query):")
    eng.current_positions("global_stream").show(10, truncate=False)
    print("# combined latest (4-source fused world picture):")
    eng.sql(
        "SELECT icao24, lat, lon, source, scrape_time "
        "FROM positions_global_combined_latest ORDER BY icao24 LIMIT 10"
    ).show(truncate=False)
    print("# trajectory scan (last 5 minutes, stride 4):")
    eng.trajectory(
        source="local", time_from=now - timedelta(minutes=5), time_to=now, stride=4
    ).show(5, truncate=False)
    return 0


def cmd_maintain(args) -> int:
    eng = _engine(args.data_dir)
    result = eng.run_maintenance()
    for src, parts in result.items():
        print(
            f"{src}: expired {len(parts['expired'])} partitions {parts['expired']}, "
            f"compacted {len(parts['compacted'])} {parts['compacted']}"
        )
    return 0


def cmd_stats(args) -> int:
    eng = _engine(args.data_dir)
    eng.table_stats().show(truncate=False)
    return 0


def cmd_curate_maintain(args) -> int:
    import os

    from .session import get_spark
    from .streaming.curation import CurationIngest, stored_band_law_params

    spark = get_spark("curation-maintain")
    seeds = (
        [s for s in args.host_trust_seeds.split(",") if s]
        if args.host_trust_seeds
        else None
    )
    # adopt each band store's recorded law instead of the constructor
    # defaults: --near-dedup on a corpus ingested under k=32/b=8 must run
    # the compaction's candidate generation under THAT law, or recall
    # silently differs from the configured S-curve (r11 advice; the
    # exact-Jaccard verify kept results correct, only recall drifted)
    law_kwargs: dict = {}
    text_law = stored_band_law_params(os.path.join(args.base_dir, "text_bands"))
    if text_law:
        law_kwargs.update(
            text_minhash_k=text_law["k"],
            text_bands=text_law["bands"],
            text_shingle_w=text_law["w"],
        )
        print(f"text band law (from store marker): {text_law}")
    phash_law = stored_band_law_params(
        os.path.join(args.base_dir, "phash_bands")
    )
    if phash_law:
        law_kwargs["media_bands"] = phash_law["bands"]
        print(f"phash band law (from store marker): {phash_law}")
    from .streaming.curation import stored_embed_law_params

    embed_law = stored_embed_law_params(
        os.path.join(args.base_dir, "vector_index")
    )
    if embed_law:
        law_kwargs.update(
            embed_dim=embed_law["dim"],
            embed_ngram=(embed_law["ngram_lo"], embed_law["ngram_hi"]),
        )
        print(f"embed law (from store marker): {embed_law}")
    ing = CurationIngest(
        args.base_dir,
        host_trust_seeds=seeds,
        host_rank_iterations=args.host_rank_iterations,
        media_max_band_freq=args.media_max_band_freq,
        text_max_band_freq=args.text_max_band_freq,
        # the CLI takes the lease below and threads it through every
        # job, so strictness costs nothing here and catches any future
        # lease-less call path loudly (r14 verdict item 6); the
        # programmatic default stays warn-only for ad-hoc notebook use
        strict_lease=True,
        **law_kwargs,
    )
    # the single-maintainer lease: a second curate-maintain (or a
    # scheduler double-fire) on the same base_dir blocks, then fails
    # loudly with TimeoutError instead of staging a rival fold whose
    # work the pointer swap throws away (r12 verdict item 4)
    with ing.maintenance_lease() as lease:
        fps = ing.compact_fingerprints(
            spark, buckets=args.buckets, assume_quiesced=args.assume_quiesced,
            lease=lease,
        )
        print(f"fingerprints: {fps}")
        if args.near_dedup:
            cur = ing.compact_curated(
                spark,
                threshold=args.threshold,
                assume_quiesced=args.assume_quiesced,
                lease=lease,
            )
            print(f"curated: {cur}")
        if args.compact_index:
            idx = ing.compact_text_index(spark, lease=lease)
            print(f"text_index: {idx}")
        if args.compact_vectors:
            from .operators.search import _gen_name

            if _gen_name(ing.vector_index_path) is not None:
                print(
                    "vector_index: "
                    f"{ing.compact_vector_index(spark, assume_quiesced=args.assume_quiesced, lease=lease)}"
                )
            else:
                print("vector_index: none at this base dir")
        if args.compact_bands:
            print(
                "phash_bands: "
                f"{ing.compact_phash_bands(spark, buckets=args.buckets, assume_quiesced=args.assume_quiesced, lease=lease)}"
            )
            print(
                "text_bands: "
                f"{ing.compact_text_bands(spark, buckets=args.buckets, assume_quiesced=args.assume_quiesced, lease=lease)}"
            )
        if args.recompute_host_ranks:
            print(f"host_ranks: {ing.recompute_host_ranks(spark, lease=lease)}")
        if args.fold_ingest_log:
            print(
                "ingest_log: "
                f"{ing.compact_ingest_log(spark, max_age_sec=args.max_log_age_sec, assume_quiesced=args.assume_quiesced, lease=lease)}"
            )
    return 0


def cmd_ingest_report(args) -> int:
    """Print the streaming funnel's health record: lifetime totals and
    the latest batch's per-gate drop counts from the ingest_log table
    CurationIngest writes inside each batch's commit envelope."""
    import json

    from .session import get_spark
    from .streaming.curation import CurationIngest

    spark = get_spark("ingest-report")
    ing = CurationIngest(args.base_dir)
    try:
        report = ing.ingest_report(spark)
    except Exception as exc:  # no log yet: say so instead of stack-tracing
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            print(f"no ingest log at {ing.ingest_log_path}")
            return 1
        raise
    print(json.dumps(report, indent=2, sort_keys=True))
    return 0


def cmd_mm_demo(args) -> int:
    """The flagship multimodal pipeline, end to end in ONE invocation:
    synthetic binary media (with planted byte-exact copies AND
    perceptual near-copies) → Arrow feature extraction
    (media → embedding) → streaming curation ingest with exact media
    dedup + band-index near-dedup + stored IVF vector index → index compaction
    (quantizer re-learned from the curated corpus) → a kNN probe of the
    stored index with a fresh query payload → curated output counts.
    Every stage is the real operator the oracle/pytest suites gate; the
    demo only composes them."""
    import json
    import time

    from pyspark.sql import functions as F

    from .operators.multimodal import extract_features
    from .session import get_spark
    from .streaming.curation import CurationIngest

    spark = get_spark("mm-demo")
    spark.sparkContext.setLogLevel("ERROR")
    base = args.data_dir or tempfile.mkdtemp(prefix="mm_demo_")
    n = args.n
    t0 = time.time()

    def gen(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads, texts = [], []
            for did in pdf["id"]:
                # doc_id % 10 == 1: byte-exact COPY of the neighbor's
                # media (falls at the exact md5 gate); % 10 == 6: a
                # perceptual NEAR-copy (5 leading bytes forced, blockhash
                # hamming <= 3 — falls at the stored band index)
                src = did - 1 if did % 10 in (1, 6) else did
                rs = np.random.RandomState(int(src) % (2**31))
                px = rs.randint(0, 256, 512).astype(np.uint8)
                if did % 10 == 6:
                    px[:5] = 255
                payloads.append(px.tobytes())
                texts.append(
                    f"caption for frame {did} "
                    + " ".join(f"tok{(did * 7 + j) % 97}" for j in range(12))
                )
            yield pd.DataFrame(
                {"doc_id": pdf["id"], "text": texts, "payload": payloads}
            )

    docs = spark.range(n).repartition(8).mapInPandas(
        gen, "doc_id long, text string, payload binary"
    )
    feats = extract_features(
        docs.select(F.col("doc_id").alias("media_id"), "payload"), dim=8
    )
    batch = docs.join(
        feats.select(
            F.col("media_id").alias("doc_id"), F.col("feature").alias("embedding")
        ),
        "doc_id",
    )
    ing = CurationIngest(
        base,
        run_id="demo",
        media_dedup=True,
        media_near_dedup=True,
        vector_index=True,
        vector_n_lists=8,
    )
    half = n // 2
    ing.process_batch(batch.filter(F.col("doc_id") < half), batch_id=0)
    ing.process_batch(batch.filter(F.col("doc_id") >= half), batch_id=1)
    n_curated = ing.curated(spark).count()
    comp = ing.compact_vector_index(spark)
    # probe the STORED index with a fresh query: a byte-exact re-render
    # of doc 4's media, embedded by the same extractor — its nearest
    # curated neighbor must be doc 4 at cosine 1.0
    probe_media = docs.filter(F.col("doc_id") == 4).select(
        F.lit(9_999_999).alias("media_id"), "payload"
    )
    qdf = extract_features(probe_media, dim=8).select(
        F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    hits = ing.knn(spark, qdf, k=3, nprobe=8).collect()
    out = {
        "n_docs": n,
        "curated": n_curated,
        "media_dups_dropped": n - n_curated,
        "index_folded_segments": comp["folded_segments"],
        "probe_top3": [
            {"doc_id": r["neighbor_id"], "cos_sim": r["cos_sim"]} for r in hits
        ],
        "probe_hit_doc4_exact": bool(
            hits and hits[0]["neighbor_id"] == 4 and hits[0]["cos_sim"] == 1.0
        ),
        "wall_sec": round(time.time() - t0, 1),
        "base_dir": base,
    }
    print(json.dumps(out))
    return 0 if out["probe_hit_doc4_exact"] else 1


def cmd_text_demo(args) -> int:
    """The flagship TEXT-ONLY pipeline, end to end in ONE invocation —
    the text twin of mm-demo, requiring NO external embedding model:
    synthetic text corpus (with planted exact copies AND one-token-
    changed near-copies) → streaming curation ingest (exact fingerprint
    dedup + MinHash band near-dedup + stored IVF vector index fed by the
    deterministic hashed-projection embedder) → index compaction
    (quantizer re-learned from the curated corpus) → a kNN probe of the
    STORED index with a fresh paraphrase of a planted document. Every
    stage is the oracle/pytest-gated operator; the demo only composes
    them. Exit code certifies the probe's top hit is the planted
    original."""
    import hashlib
    import json
    import time

    from pyspark.sql import functions as F

    from .operators.similarity import hashed_text_embeddings
    from .session import get_spark, local_frame
    from .streaming.curation import CurationIngest

    spark = get_spark("text-demo")
    spark.sparkContext.setLogLevel("ERROR")
    base = args.data_dir or tempfile.mkdtemp(prefix="text_demo_")
    n = args.n
    dim = 32
    t0 = time.time()

    def words(seed: str, k: int = 14) -> list:
        return [
            "w" + hashlib.md5(f"{seed}|{p}".encode()).hexdigest()[:6]
            for p in range(k)
        ]

    rows = []
    for i in range(n):
        if i % 10 == 1:  # byte-exact COPY of the neighbor's text
            rows.append((i, " ".join(words(f"d{i - 1}"))))
        elif i % 10 == 6:  # one-token-changed NEAR-copy of the neighbor
            w = words(f"d{i - 1}")
            w[7] = "changed"
            rows.append((i, " ".join(w)))
        else:
            rows.append((i, " ".join(words(f"d{i}"))))
    docs = local_frame(spark, rows, "doc_id long, text string")
    ing = CurationIngest(
        base,
        run_id="demo",
        text_near_dedup=True,
        text_dedup_threshold=0.5,
        vector_index=True,
        embed_dim=dim,
        vector_n_lists=8,
    )
    half = n // 2
    ing.process_batch(docs.filter(F.col("doc_id") < half), batch_id=0)
    ing.process_batch(docs.filter(F.col("doc_id") >= half), batch_id=1)
    n_curated = ing.curated(spark).count()
    comp = ing.compact_vector_index(spark)
    # probe the STORED index with a fresh PARAPHRASE of doc 4's text
    # (two tokens substituted), embedded by the same deterministic law —
    # its nearest curated neighbor must be doc 4
    pw = words("d4")
    pw[2], pw[11] = "fresh", "probe"
    qdf = hashed_text_embeddings(
        local_frame(spark, [(9_999_999, " ".join(pw))], "doc_id long, text string"),
        dim=dim,
    ).select(F.col("doc_id").alias("vec_id"), "embedding")
    hits = ing.knn(spark, qdf, k=3, nprobe=8).collect()
    rep = ing.ingest_report(spark)
    out = {
        "n_docs": n,
        "curated": n_curated,
        "dropped_exact": rep["dropped"]["exact_text"] + rep["dropped"]["store_dup"],
        "dropped_near": rep["dropped"]["text_near_batch"]
        + rep["dropped"]["text_near_store"],
        "index_folded_segments": comp["folded_segments"],
        "probe_top3": [
            {"doc_id": r["neighbor_id"], "cos_sim": r["cos_sim"]} for r in hits
        ],
        "probe_hit_doc4": bool(hits and hits[0]["neighbor_id"] == 4),
        "wall_sec": round(time.time() - t0, 1),
        "base_dir": base,
    }
    print(json.dumps(out))
    return 0 if out["probe_hit_doc4"] else 1


def cmd_search(args) -> int:
    from .operators.search import (
        bm25_probe_stored,
        compact_text_index,
        phrase_probe_stored,
    )
    from .session import get_spark

    spark = get_spark("search")
    if args.compact:
        print(f"compacted: {compact_text_index(spark, args.index_path)}")
    probe = phrase_probe_stored if args.phrase else bm25_probe_stored
    for r in probe(spark, args.index_path, args.query, k=args.k).collect():
        print("\t".join(str(v) for v in r))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="adsb_clickhouse_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_demo = sub.add_parser("demo", help="end-to-end fixture demo")
    p_demo.add_argument("--data-dir", default=None)
    p_demo.set_defaults(fn=cmd_demo)
    p_m = sub.add_parser("maintain", help="TTL maintenance")
    p_m.add_argument("data_dir")
    p_m.set_defaults(fn=cmd_maintain)
    p_s = sub.add_parser("stats", help="table stats")
    p_s.add_argument("data_dir")
    p_s.set_defaults(fn=cmd_stats)
    p_c = sub.add_parser(
        "curate-maintain", help="streaming-curation store lifecycle"
    )
    p_c.add_argument("base_dir")
    p_c.add_argument("--buckets", type=int, default=32)
    p_c.add_argument(
        "--near-dedup",
        action="store_true",
        help="also run the periodic near-dedup compaction over the curated table",
    )
    p_c.add_argument("--threshold", type=float, default=0.5)
    p_c.add_argument(
        "--compact-index",
        action="store_true",
        help="also fold the searchable text index's accumulated segments",
    )
    p_c.add_argument(
        "--compact-vectors",
        action="store_true",
        help="also fold the searchable vector index's accumulated segments",
    )
    p_c.add_argument(
        "--compact-bands",
        action="store_true",
        help="also fold the streaming media near-dedup phash band store "
        "into its bkey-bucketed table (applies the hot-band valve when "
        "--media-max-band-freq is given)",
    )
    p_c.add_argument(
        "--media-max-band-freq",
        type=int,
        default=None,
        help="hot-band valve for the phash band fold: drop band keys "
        "carried by more stored rows than this (default: no valve)",
    )
    p_c.add_argument(
        "--text-max-band-freq",
        type=int,
        default=None,
        help="hot-band valve for the text MinHash band fold (default: no valve)",
    )
    p_c.add_argument(
        "--recompute-host-ranks",
        action="store_true",
        help="recompute the domain-reputation rank generation over the "
        "accumulated host edge store (PageRank + TrustRank when seeds given)",
    )
    p_c.add_argument(
        "--host-trust-seeds",
        default=None,
        help="comma-separated vetted host list for the TrustRank teleport",
    )
    p_c.add_argument("--host-rank-iterations", type=int, default=5)
    p_c.add_argument(
        "--assume-quiesced",
        action="store_true",
        help="fold segments without commit markers (stream stopped + checkpoint committed)",
    )
    p_c.add_argument(
        "--fold-ingest-log",
        action="store_true",
        help="also fold the per-batch observability log's committed "
        "segments into one compacted generation (retention for the "
        "one-tiny-parquet-per-batch growth)",
    )
    p_c.add_argument(
        "--max-log-age-sec",
        type=float,
        default=None,
        help="with --fold-ingest-log: drop stats rows older than this "
        "many seconds at fold time (default: keep everything)",
    )
    p_c.set_defaults(fn=cmd_curate_maintain)
    p_ir = sub.add_parser(
        "ingest-report",
        help="per-gate health report over the streaming funnel's ingest_log",
    )
    p_ir.add_argument("base_dir")
    p_ir.set_defaults(fn=cmd_ingest_report)
    p_mm = sub.add_parser(
        "mm-demo",
        help="end-to-end multimodal demo: media -> embedding -> curation "
        "ingest (media dedup + stored vector index) -> compaction -> kNN probe",
    )
    p_mm.add_argument("--n", type=int, default=2000)
    p_mm.add_argument("--data-dir", default=None)
    p_mm.set_defaults(fn=cmd_mm_demo)
    p_td = sub.add_parser(
        "text-demo",
        help="end-to-end text-only demo: corpus -> hashed embedder -> "
        "curation ingest (exact + band near-dedup + stored vector index) "
        "-> compaction -> kNN probe of a planted paraphrase",
    )
    p_td.add_argument("--n", type=int, default=2000)
    p_td.add_argument("--data-dir", default=None)
    p_td.set_defaults(fn=cmd_text_demo)
    p_q = sub.add_parser(
        "search", help="probe a stored BM25/phrase inverted index"
    )
    p_q.add_argument("index_path")
    p_q.add_argument("query")
    p_q.add_argument("-k", type=int, default=10)
    p_q.add_argument(
        "--phrase", action="store_true", help="exact-phrase match (positional index)"
    )
    p_q.add_argument(
        "--compact", action="store_true", help="fold accumulated segments first"
    )
    p_q.set_defaults(fn=cmd_search)
    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

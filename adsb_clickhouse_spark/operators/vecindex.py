"""Stored streaming vector index — the embedding twin of the stored
BM25 inverted index (operators/search.py).

A generational IVF layout under one directory:

- ``_GEN`` — pointer file naming the current ``gen-*`` generation
  (atomic ``os.replace`` swap, same discipline as every other store).
- ``gen-*/centroids/`` — the coarse quantizer, (list_id, c) rows.
- ``gen-*/vectors/`` — the indexed corpus partitioned by ``list_id``
  (the ANN-layout discipline: a probe reads nprobe/n_lists of the
  data via PartitionFilters, never the corpus).
- ``gen-*/_FOLDED`` — transitive manifest of folded segment names.
- ``segments/<name>/vectors/`` — appended batches, ALSO partitioned by
  ``list_id`` under the current generation's centroids, name-keyed and
  overwritten on replay (a redelivered batch converges instead of
  duplicating).

Lifecycle (mirrors write/append/compact/GC of the text index):

- :func:`init_vector_index` bootstraps an EMPTY generation with
  deterministic seed centroids, so every later write is a replay-safe
  segment append — no batch ever initializes the index from data (the
  crash window "init landed, stream marker didn't" cannot
  double-index).
- :func:`append_vector_index` assigns a batch to the CURRENT
  generation's centroids (broadcast, one Arrow pass) and writes a
  name-keyed segment. Probe correctness never depends on centroid
  quality — a probe scores candidates with the exact cosine — so
  bootstrap-seeded assignments only cost recall/balance until the
  first compaction re-learns the quantizer from real data.
- :func:`knn_probe_stored` selects each query's nprobe nearest lists
  driver-side (centroids are n_lists-bounded by construction), reads
  ONLY those ``list_id=`` partitions of the generation and every live
  segment, and scores exactly.
- :func:`compact_vector_index` folds live segments into a new
  generation, re-running Lloyd k-means (similarity.ivf_build) over the
  accumulated corpus so the quantizer tracks the data distribution.
  Crash-safe by the store discipline: new generation fully written →
  transitive ``_FOLDED`` manifest → one atomic pointer swap → GC;
  interruption anywhere leaves a readable index and a re-run
  converges. Orphan generations (a compaction that died before its
  swap) are GC'd at the next compaction, like the text index.

At 100 TB: appends touch only the batch (one Arrow assignment pass +
a partitioned write), probes touch nprobe/n_lists of the corpus plus
the (small, periodically folded) segment tail, and compaction is the
one corpus-sized job — amortized over every later probe, exactly the
economics measured for the fingerprint store and the text index
(README measured-scale table).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.genstore import (
    fold_generation as _fold_generation,
    folded_set as _folded_set,
    gc_orphan_generations as _gc_orphan_generations,
    gc_stale_staging as _gc_stale_staging,
    gen_name as _gen_name,
    live_segments as _live_segments,
    publish_segment as _publish_segment,
    snapshot_view as _snapshot_view,
)
from ..plans.storeio import storeio_for
from ..session import local_frame
from .similarity import _d2_fold, _id_as_long, _nonzero_norm, as_double, cosine

VEC_SCHEMA = "id long, v array<double>, list_id int"


def _seed_centroids(dim: int, n_lists: int, seed: str):
    """Deterministic bootstrap centroids in [-1, 1]^dim — md5-derived,
    library-free, so an index initialized anywhere assigns identically."""
    cent = []
    for li in range(n_lists):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{li}|{d}".encode()).hexdigest()[:15]
            row.append(int(h, 16) / float(16**15) * 2.0 - 1.0)
        cent.append(row)
    return cent


def _read_centroids(spark: SparkSession, path: str, gen: str):
    import numpy as np

    rows = spark.read.parquet(os.path.join(path, gen, "centroids")).collect()
    rows.sort(key=lambda r: r["list_id"])
    return np.asarray([r["c"] for r in rows], dtype=np.float64)


def _write_centroids(spark: SparkSession, out: str, cent) -> None:
    local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "list_id int, c array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "centroids"))


def _assign(vectors: DataFrame, cent, *, id_col: str, vec_col: str) -> DataFrame:
    """(id, v, list_id) under the given centroids — one Arrow pass;
    zero-norm vectors are excluded wholesale (the corpus-wide cosine
    contract, see similarity.knn_bruteforce)."""
    import numpy as np
    import pandas as pd

    src = vectors.select(
        _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
    ).filter(_nonzero_norm(F.col("v")))
    bc = vectors.sparkSession.sparkContext.broadcast(np.asarray(cent))

    def gen(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            pdf = pdf.assign(list_id=_d2_fold(mat, c).argmin(axis=1).astype("int32"))
            yield pdf

    return src.mapInPandas(gen, VEC_SCHEMA)


_SEGMENT_GEN_MARKER = "_GEN_AT_APPEND"


def _write_segment_gen(seg_dir: str, gen: str) -> None:
    """Record which generation's centroids assigned this segment's
    list_ids — atomic publish (StoreIO.write_atomic) so readers see the
    old value or the new, never a torn write."""
    from ..plans.storeio import storeio_for

    storeio_for(seg_dir).write_atomic(
        os.path.join(seg_dir, _SEGMENT_GEN_MARKER), gen
    )


def _segment_gen(seg_dir: str) -> str | None:
    from ..plans.storeio import storeio_for

    try:
        return (
            storeio_for(seg_dir)
            .read_text(os.path.join(seg_dir, _SEGMENT_GEN_MARKER))
            .strip()
            or None
        )
    except OSError:
        return None


def _has_vectors(part: str) -> bool:
    from ..plans.storeio import storeio_for

    root = os.path.join(part, "vectors")
    return storeio_for(root).has_files(root, ".parquet")


def init_vector_index(
    spark: SparkSession,
    path: str,
    *,
    dim: int,
    n_lists: int = 16,
    seed: str = "vecindex",
) -> dict:
    """Bootstrap an EMPTY index generation (seed centroids, no vectors)
    so later writes are all replay-safe segment appends. Idempotent."""
    gen = _gen_name(path)
    if gen is not None:
        cent = _read_centroids(spark, path, gen)
        return {
            "generation": gen,
            "n_lists": int(cent.shape[0]),
            "dim": int(cent.shape[1]),
            "existed": True,
        }
    def build(out: str) -> None:
        storeio_for(out).makedirs(out)
        _write_centroids(spark, out, _seed_centroids(dim, n_lists, seed))

    new_gen = _fold_generation(path, build, folded=set())
    return {"generation": new_gen, "n_lists": n_lists, "dim": dim, "existed": False}


def append_vector_index(
    vectors: DataFrame,
    path: str,
    segment: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_cache: dict | None = None,
) -> dict:
    """Add a batch of NEW vectors as segment ``segments/<segment>`` —
    assigned under the CURRENT generation's centroids so every part of
    the index prunes on the same ``list_id`` keys. Name-keyed overwrite:
    a replayed batch converges. The appended-ids-are-new contract
    belongs to the caller (the curation ingest's batch markers /
    fingerprint store), same as the text index.

    The generation the batch was assigned under is recorded in the
    segment (``_GEN_AT_APPEND``, written atomically AFTER the vectors so
    a crash leaves no marker). A segment whose recorded generation
    differs from the probe-time generation — an append that raced a
    compaction's snapshot — is scanned WITHOUT the list_id partition
    filter by :func:`knn_probe_stored` (segments are batch-sized, so an
    unpruned scan of one is cheap) and folded by the next compaction,
    so no vector is ever un-probeable. Appends need no quiesce ONLY
    when compaction runs under the caller's commit-marker predicate
    (``compact_vector_index(committed=...)``, as CurationIngest does):
    that is what stops a fold from half-reading and deleting a
    segment whose parquet job-commit is still in flight. A
    ``committed=None`` fold still requires quiesced appends."""
    gen = _gen_name(path)
    if gen is None:
        raise RuntimeError(
            f"no vector index at {path}; init_vector_index must create "
            "the layout before appends"
        )
    spark = vectors.sparkSession
    # ``centroid_cache`` (a caller-owned dict) skips the two-job
    # centroid read on every append after the first: centroids change
    # ONLY at a generation swap, and the cache is keyed by the
    # generation name read fresh above, so a compaction between batches
    # invalidates it exactly (r13 floor cut — a streaming ingest paid
    # the read per batch for an immutable-within-generation table).
    if centroid_cache is not None and centroid_cache.get("gen") == gen:
        cent = centroid_cache["cent"]
    else:
        cent = _read_centroids(spark, path, gen)
        if centroid_cache is not None:
            centroid_cache.clear()
            centroid_cache.update(gen=gen, cent=cent)
    # ONE Spark job per append (r12 verdict item 5, the same cut as the
    # text index): the write's observation yields the vector count that
    # used to be a read-back job, and the segment layout is FLAT —
    # list_id kept as a sorted int column instead of an n_lists-way
    # partitionBy (a batch-sized segment gains nothing from directory
    # pruning; probes push the isin on the sorted column, and the next
    # compaction folds it into the partitioned generation layout).
    #
    # Staged + published with one atomic rename (genstore.
    # publish_segment — r14 probe-under-maintenance soak: an in-place
    # write exposed the segment before its _GEN_AT_APPEND marker and
    # vector files were complete). An EMPTY batch (every vector a
    # cross-batch duplicate, NULL, or zero-norm) publishes NOTHING —
    # strictly cleaner than the old _SUCCESS-only directory every
    # reader had to special-case.
    from pyspark.sql import Observation

    from ..functions.observe import observation_values

    ob = Observation()
    assigned = _assign(vectors, cent, id_col=id_col, vec_col=vec_col).observe(
        ob, F.count(F.lit(1)).alias("n")
    )
    state = {"n": 0}

    def build(staging: str):
        (
            assigned.coalesce(4)
            .sortWithinPartitions("list_id")
            .write.mode("overwrite")
            .parquet(os.path.join(staging, "vectors"))
        )
        # observation_values tolerates AQE pruning the tap on a
        # provably-empty batch: n = 0 exactly
        state["n"] = int(observation_values(ob, {"n": 0})["n"])
        if state["n"] == 0:
            return False  # skip the publish: nothing becomes visible
        _write_segment_gen(staging, gen)
        return None

    _publish_segment(path, segment, build)
    return {"segment": segment, "n_vectors": state["n"], "generation": gen}


def knn_probe_stored(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    k: int = 3,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kNN over the stored index: per query, the nprobe nearest lists
    are chosen driver-side against the (n_lists-bounded) centroid table,
    then ONLY those ``list_id=`` partitions of the generation and every
    live segment are read (the isin filter reaches each scan as a
    PartitionFilter — plan-pinned in tests) and scored with the exact
    cosine. Returns (query_id, neighbor_id, rank, cos_sim) like
    ivf_search. Queries are a probe-sized dimension table by contract."""
    import numpy as np

    from pyspark.sql import Window

    # (gen, segments) must be ONE consistent view: a fold landing
    # between the two metadata reads hands the probe the pre-fold
    # generation with the post-fold segment list — the folded rows are
    # in neither (plans/genstore.snapshot_view; the
    # probe-under-maintenance soak caught this as a zero-result probe)
    gen, live = _snapshot_view(path)
    if gen is None:
        raise RuntimeError(f"no vector index at {path}")
    cent = _read_centroids(spark, path, gen)
    qrows = queries.select(
        _id_as_long(queries, id_col, "query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    ).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        if not np.any(qv * qv):
            continue  # zero-norm contract
        d2 = _d2_fold(qv[None, :], cent)[0]
        for li in np.argsort(d2, kind="stable")[:nprobe]:
            probe_rows.append((r["query_id"], r["qv"], int(li)))
    probes = local_frame(spark, probe_rows, "query_id long, qv array<double>, list_id int")
    needed = sorted({r[2] for r in probe_rows})
    # Segments assigned under the CURRENT generation prune on list_id;
    # a segment whose recorded generation differs (an append that raced
    # a compaction — its list_ids were assigned under the old centroids,
    # so pruning them against the new quantizer would make its vectors
    # permanently un-probeable) or has no marker (crash before the
    # marker landed) is scanned in full against every query. Segments
    # are batch-sized by contract, so the unpruned scan is cheap, and
    # the next compaction folds/re-assigns them.
    pruned_parts, stale_parts = [os.path.join(path, gen)], []
    for s in live:
        seg_dir = os.path.join(path, "segments", s)
        (pruned_parts if _segment_gen(seg_dir) == gen else stale_parts).append(seg_dir)

    def _union_reads(dirs):
        out = None
        for p in dirs:
            if not _has_vectors(p):
                continue
            root = os.path.join(p, "vectors")
            nxt = spark.read.option("basePath", root).parquet(root)
            out = nxt if out is None else out.unionByName(nxt)
        return out

    cand = _union_reads(pruned_parts)
    stale = _union_reads(stale_parts)
    if cand is None and stale is None:
        return local_frame(spark, [], "query_id long, neighbor_id long, rank int, cos_sim double")
    pairs = None
    if cand is not None:
        pairs = (
            cand.filter(F.col("list_id").isin(needed))
            .join(F.broadcast(probes), "list_id")
            .select("id", "v", "query_id", "qv")
        )
    if stale is not None:
        q_df = local_frame(
            spark,
            list({r[0]: (r[0], r[1]) for r in probe_rows}.values()),
            "query_id long, qv array<double>",
        )
        stale_pairs = stale.select("id", "v").crossJoin(F.broadcast(q_df))
        pairs = stale_pairs if pairs is None else pairs.unionByName(stale_pairs)
    dim = int(cent.shape[1])
    scored = (
        pairs.filter(F.col("id") != F.col("query_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("v"), dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "rank",
            F.round("cos_sim", 4).alias("cos_sim"),
        )
    )


def compact_vector_index(
    spark: SparkSession,
    path: str,
    *,
    n_lists: int | None = None,
    iters: int = 3,
    committed=None,
) -> dict:
    """Fold live segments into a new generation, re-learning the coarse
    quantizer (Lloyd k-means over the accumulated corpus) so list
    balance tracks the data instead of the bootstrap seeds. The one
    corpus-sized maintenance job; single concurrent maintainer.

    ``committed`` is the caller's commit-marker predicate
    (segment name -> bool), mirroring compact_fingerprints'
    committed/assume_quiesced discipline: segments it rejects are
    neither folded nor deleted — an append whose parquet job-commit
    races this fold (its marker not yet written) keeps its directory
    intact and stays probeable, instead of being half-folded and
    rmtree'd mid-write. ``None`` folds ALL live segments and is only
    safe when the caller guarantees no append is in flight (tests,
    stopped streams)."""
    gen = _gen_name(path)
    if gen is None:
        raise RuntimeError(f"no vector index at {path}")
    _gc_orphan_generations(path, gen)
    _gc_stale_staging(path)  # crashed-append leftovers (age-gated)
    all_segs = _live_segments(path)
    segs = (
        all_segs if committed is None
        else [s for s in all_segs if committed(s)]
    )
    skipped = len(all_segs) - len(segs)
    if not segs:
        return {
            "folded_segments": 0,
            "generation": gen,
            "skipped_uncommitted": skipped,
        }
    cent = _read_centroids(spark, path, gen)
    parts = [os.path.join(path, gen)] + [os.path.join(path, "segments", s) for s in segs]
    data_parts = [p for p in parts if _has_vectors(p)]

    def build(out: str) -> None:
        if data_parts:
            allv = None
            for p in data_parts:
                root = os.path.join(p, "vectors")
                nxt = spark.read.option("basePath", root).parquet(root).select("id", "v")
                allv = nxt if allv is None else allv.unionByName(nxt)
            from .similarity import ivf_build

            want = int(n_lists) if n_lists is not None else int(cent.shape[0])
            assignments, new_cent = ivf_build(
                allv, n_lists=want, iters=iters, id_col="id", vec_col="v"
            )
            (
                allv.join(assignments, "id")
                .select("id", "v", "list_id")
                .write.mode("overwrite")
                .partitionBy("list_id")
                .parquet(os.path.join(out, "vectors"))
            )
            _write_centroids(spark, out, new_cent)
        else:
            storeio_for(out).makedirs(out)
            _write_centroids(spark, out, cent)

    new_gen = _fold_generation(
        path,
        build,
        folded=_folded_set(path, gen) | set(segs),
        gc_paths=[os.path.join(path, "segments", e) for e in segs]
        + [os.path.join(path, gen)],
    )
    return {
        "folded_segments": len(segs),
        "generation": new_gen,
        "skipped_uncommitted": skipped,
    }

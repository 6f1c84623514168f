"""Similarity search over embedding columns (`array<float>`).

Two paths, mirroring what a 100 TB training-data pipeline needs:

- **brute-force cosine top-k** — exact baseline. The query side is small
  (a handful of probe vectors) and broadcast; the corpus side streams
  through a single scan with the dot product evaluated JVM-side as an
  unrolled add chain (no Python UDF, no per-row Arrow transfer). Cost is
  O(|corpus|·|queries|·dim) FLOPs at scan speed; top-k per query is a
  tiny windowed shuffle.
- **LSH-bucketed ANN** — random-hyperplane signatures (deterministic ±1
  planes derived from md5 so the DuckDB oracle reproduces them bit-for-
  bit). Corpus is hashed once into 2^p buckets; a query probes only its
  own bucket → per-query cost drops by the bucket fan-out. At scale the
  bucket id becomes the table's partition key so a probe is one
  partition-pruned scan.

Everything is double-precision with a left-to-right summation order,
which both Spark and DuckDB's list functions use — results agree to the
last bit, so oracles compare rounded values safely.

Hot-path note: the dot product is an UNROLLED explicit add chain
(``v[1]*w[1] + v[2]*w[2] + ...``), not a higher-order-function fold.
``F.aggregate``'s lambda is interpreted per element per row (no
whole-stage codegen) — on an O(n²) pair join that was ~70 µs/pair; the
unrolled chain compiles into the generated code and is ~50× faster.
``((x1+x2)+x3)+...`` associates exactly like the left fold (0.0+x1 ≡ x1
in IEEE754), so DuckDB ``list_dot_product`` parity is preserved bit-for-
bit. Norms are precomputed once per row, not once per pair.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

DEFAULT_DIM = 64  # the driver's embeddings table width

# cosine_near_dup_pairs collects the corpus to the driver to broadcast it;
# 1M × 64 doubles ≈ 512 MB — past this the LSH path is the answer, not a
# bigger driver (see cosine_near_dup_pairs docstring).
MAX_BROADCAST_ROWS = 1_000_000


def _id_as_long(df: DataFrame, id_col: str, alias: str) -> Column:
    """ANN/LSH/IVF id contract: ids ride through numpy int64 arrays inside
    the Arrow-batched kernels, so they are cast to ``long``. Numeric ids
    (and digit strings) pass through exactly. Non-castable column TYPES
    fail here at plan-build time; a NON-numeric string VALUE still becomes
    NULL at runtime and its rows vanish at the ``neighbor_id != query_id``
    filter — validate string ids upstream, or use :func:`knn_bruteforce`,
    which never casts and is type-agnostic."""
    from pyspark.sql.types import NumericType, StringType

    dtype = df.schema[id_col].dataType
    if not isinstance(dtype, (NumericType, StringType)):
        raise TypeError(
            f"ANN id column {id_col!r} has type {dtype.simpleString()}; the "
            "LSH/IVF kernels require ids castable to long (numeric or digit "
            "strings). Use knn_bruteforce for arbitrary id types."
        )
    return F.col(id_col).cast("long").alias(alias)


def _infer_dim(vectors: DataFrame, vec_col: str) -> int:
    """Vector width from one row — a constant-cost driver lookup so the
    unrolled expressions match the data (embeddings are fixed-width per
    table; a 100 TB corpus still answers this from one row group)."""
    row = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row else DEFAULT_DIM


def _dot(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    """Codegen-friendly dot product: explicit left-to-right add chain."""
    total = None
    for i in range(1, dim + 1):
        term = F.element_at(a, i) * F.element_at(b, i)
        total = term if total is None else total + term
    return total


def _norm(a: Column, dim: int = DEFAULT_DIM) -> Column:
    return F.sqrt(_dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _nonzero_norm(vec) -> Column:
    """norm² > 0 as a TINY aggregate-HOF tree. The unrolled 64-term
    chain here would cost seconds of driver plan compilation per query
    (the tree exceeds the JIT method limit and falls back to interpreted
    eval anyway — module docstring); the fold lambda is interpreted per
    row but the predicate only needs the BOOLEAN, which is
    association-independent for non-negative terms: the sum is zero iff
    every element squares to zero (including underflow), exactly
    DuckDB's list_dot_product(v, v) > 0."""
    return F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x) > 0


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, cos_sim). Ties broken by
    neighbor id (deterministic). The queries side is broadcast — the big
    corpus never shuffles until the final per-query top-k; norms are
    computed once per row (not per pair).
    """
    from pyspark.sql import Window

    dim = dim if dim is not None else _infer_dim(corpus, vec_col)
    # zero-norm vectors have no cosine direction and would be a hard
    # DIVIDE_BY_ZERO under Spark's ANSI mode — excluded by contract on
    # both sides (the codegen norm chain doubles as the predicate; the
    # DuckDB oracles carry the same list_dot_product(v, v) > 0 filter)
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        )
        .filter(_nonzero_norm(F.col("cv")))  # before the norm projection:
        # filtering on the cn column would inline the 64-term chain into
        # the Filter node too, doubling the plan
        .withColumn("cn", _norm(F.col("cv"), dim))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
        )
        .filter(_nonzero_norm(F.col("qv")))
        .withColumn("qn", _norm(F.col("qv"), dim))
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim", _dot(F.col("qv"), F.col("cv"), dim) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


def hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random hyperplanes: sign from md5(f"{p}_{d}").
    Pure-python md5 → identical constants can be inlined into both the
    Spark plan and the oracle SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}_{d}".encode()).hexdigest()
            row.append(1 if int(h[:2], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def _bucketize(
    df: DataFrame,
    planes,
    *,
    vec: str,
    with_norm: bool = False,
    norm_col: str = "n",
) -> DataFrame:
    """Arrow-batched hyperplane signature (+ optional norm) per row.

    Plane dots and norms accumulate dimension-by-dimension — the same
    association as the oracle's explicit add chain / left fold, so signs
    (and therefore buckets) and norms are bit-identical to the SQL twin.
    """
    import numpy as np

    p_mat = np.asarray(planes, dtype=np.float64)
    other = [c for c in df.columns]
    schema = ", ".join(
        f"{name} {dtype}" for name, dtype in df.dtypes
    ) + ", bucket long" + (f", {norm_col} double" if with_norm else "")

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec].to_numpy())
            bucket = np.zeros(len(mat), dtype=np.int64)
            for p in range(p_mat.shape[0]):
                acc = mat[:, 0] * p_mat[p, 0]
                for i in range(1, mat.shape[1]):
                    acc = acc + mat[:, i] * p_mat[p, i]
                bucket += (acc >= 0).astype(np.int64) << p
            out = pdf[other].copy()
            out["bucket"] = bucket
            if with_norm:
                nacc = mat[:, 0] * mat[:, 0]
                for i in range(1, mat.shape[1]):
                    nacc = nacc + mat[:, i] * mat[:, i]
                out[norm_col] = np.sqrt(nacc)
            yield out

    return df.mapInPandas(assign, schema)


def _bucketize_rows(qrows, planes):
    """Driver-side twin of :func:`_bucketize` for an already-collected
    probe-sized row set (``collect_query_rows`` output): the SAME numpy
    per-dimension accumulation over the same doubles, so buckets and
    norms are bit-identical to the worker pass — probe sets are bounded
    by contract, this is never a data collect. Returns (query_id, qv,
    bucket, qn) tuples for :func:`local_frame` (r15: replaces one
    5-row mapInPandas Python stage per LSH probe with a local
    relation, the shape the ivf/pq probes already use)."""
    import numpy as np

    if not qrows:
        return []
    p_mat = np.asarray(planes, dtype=np.float64)
    mat = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    bucket = np.zeros(len(mat), dtype=np.int64)
    for p in range(p_mat.shape[0]):
        acc = mat[:, 0] * p_mat[p, 0]
        for i in range(1, mat.shape[1]):
            acc = acc + mat[:, i] * p_mat[p, i]
        bucket += (acc >= 0).astype(np.int64) << p
    nacc = mat[:, 0] * mat[:, 0]
    for i in range(1, mat.shape[1]):
        nacc = nacc + mat[:, i] * mat[:, i]
    norms = np.sqrt(nacc)
    return [
        (r["query_id"], [float(x) for x in r["qv"]], int(b), float(n))
        for r, b, n in zip(qrows, bucket, norms)
    ]


def hash_corpus(
    corpus: DataFrame,
    *,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The stored side of the LSH index: (neighbor_id, cv, bucket, cn).

    Signatures + norms via one Arrow pass: a p-plane × dim-term column
    expression is a ~12k-node Catalyst tree — driver-side optimization
    alone costs seconds per query, and the generated method blows the
    JIT limit (measured: 5 s steady-state JVM vs ~1 s this way). The
    numpy plane dots accumulate dimension-by-dimension, matching the
    oracle's explicit add chain bit-for-bit, so buckets agree exactly.
    At 100 TB this is the table you write, partitioned by ``bucket``."""
    dim = dim if dim is not None else _infer_dim(corpus, vec_col)
    planes = hyperplanes(n_planes, dim)
    return _bucketize(
        corpus.select(
            _id_as_long(corpus, id_col, "neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
        ),
        planes,
        vec="cv",
        with_norm=True,
        norm_col="cn",
    )


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    n_planes: int = 8,
    n_probes: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hashed_corpus: DataFrame | None = None,
    qrows=None,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probed
    hyperplane buckets.

    Returns (query_id, neighbor_id, rank, cos_sim). Recall is tunable two
    ways: fewer planes → bigger buckets, or ``n_probes`` > 1 → multi-probe
    (each extra probe flips one plane bit of the query's bucket, visiting
    the Hamming-1 neighbors where a near-miss across a single hyperplane
    lands; ``n_probes = n_planes + 1`` visits all of them). Multi-probe
    raises recall WITHOUT growing the corpus-side buckets — at 100 TB the
    corpus stays partitioned by bucket and a query simply prunes to
    ``n_probes`` partitions instead of one.

    ``hashed_corpus`` (from :func:`hash_corpus` with the same
    ``n_planes``) skips the corpus-side bucketize pass — callers probing
    one index several ways (single- and multi-probe, different k) hash
    the corpus once and share it, exactly how the 100 TB layout works
    (the bucketized corpus is the stored table; queries only probe).

    ``qrows`` (from :func:`collect_query_rows`) bucketizes the probe
    rows DRIVER-SIDE with the identical numpy fold instead of a 5-row
    mapInPandas Python stage per probe — the shape the ivf/pq probes
    already use; bit-identical buckets/norms (r15).
    """
    from pyspark.sql import Window

    dim = dim if dim is not None else _infer_dim(corpus, vec_col)
    planes = hyperplanes(n_planes, dim)
    c = (
        hashed_corpus
        if hashed_corpus is not None
        else hash_corpus(corpus, n_planes=n_planes, dim=dim, id_col=id_col, vec_col=vec_col)
    )
    if qrows is not None:
        q = local_frame(
            corpus.sparkSession,
            _bucketize_rows(qrows, planes),
            "query_id long, qv array<double>, bucket long, qn double",
        )
    else:
        q = _bucketize(
            queries.select(
                _id_as_long(queries, id_col, "query_id"),
                as_double(F.col(vec_col)).alias("qv"),
            ),
            planes,
            vec="qv",
            with_norm=True,
            norm_col="qn",
        )
    if n_probes > 1:
        # probe bucket + its Hamming-1 neighbors (one flipped plane bit
        # each). Probe buckets are distinct values, so a candidate can
        # match at most one — no pair dedup needed.
        probe_arr = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(min(n_probes - 1, n_planes))
            ],
        )
        q = q.withColumn("bucket", F.explode(probe_arr))
    # zero-norm contract (see knn_bruteforce): excluded on both sides
    # before the join rather than crash ANSI division
    scored = (
        c.filter(F.col("cn") > 0)
        .join(F.broadcast(q.filter(F.col("qn") > 0)), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim", _dot(F.col("qv"), F.col("cv"), dim) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    *,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = MAX_BROADCAST_ROWS,
) -> DataFrame:
    """All pairs (a<b) with cosine ≥ threshold — embedding near-dup.

    Exact O(n²) baseline as an Arrow-batched ``mapInPandas`` block
    product: each corpus partition scores its rows against the (small,
    broadcast) corpus matrix with numpy — the one place a Pandas UDF
    beats the JVM path, because a 64-term expression pushed into a
    nested-loop join condition compiles to a method past the JIT's 8 KB
    bytecode limit and runs interpreted (~40 µs/pair measured; numpy does
    the same block at BLAS speed).

    DuckDB-oracle float parity: the dot product accumulates DIMENSION BY
    DIMENSION (``acc = acc + a[:, i] * b[:, i]``), each step an IEEE754
    elementwise double op — associating exactly like the left fold DuckDB's
    ``list_dot_product`` uses, so cosines are bit-identical; rounding
    differences (numpy half-even vs SQL half-away) require an exact
    decimal tie, which computed cosines never hit.

    Scale note: broadcast-the-corpus is the brute-force *baseline*, and
    the driver collect it requires is HARD-CAPPED at ``max_rows``
    (default 1M rows ≈ 512 MB of 64-dim doubles) — past the cap the call
    raises instead of OOMing the driver, and the answer is
    :func:`cosine_near_dup_pairs_lsh`, the documented scale path."""
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    src = vectors.select(
        _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
    )
    # the cap check is one cheap count job; the collect below is the
    # expensive one it protects
    n = src.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_near_dup_pairs: corpus has {n} rows > max_rows={max_rows}; "
            "the exact path broadcasts the whole corpus from the driver. Use "
            "cosine_near_dup_pairs_lsh (bucketed, no driver collect) at this "
            "scale, or raise max_rows if the driver really has the memory."
        )
    if n == 0:
        return local_frame(spark, [], "id_a long, id_b long, cos_sim double")
    corpus_pdf = src.toPandas()
    ids = corpus_pdf["id"].to_numpy(dtype=np.int64)
    mat = np.stack(corpus_pdf["v"].to_numpy())  # (n, dim) float64
    bc = spark.sparkContext.broadcast((ids, mat))

    def _norms(m: "np.ndarray") -> "np.ndarray":
        acc = m[:, 0] * m[:, 0]
        for i in range(1, m.shape[1]):
            acc = acc + m[:, i] * m[:, i]
        return np.sqrt(acc)

    def score_block(batches):
        ids_c, mat_c = bc.value
        n_c = _norms(mat_c)
        for pdf in batches:
            if pdf.empty:
                continue
            ids_a = pdf["id"].to_numpy(dtype=np.int64)
            mat_a = np.stack(pdf["v"].to_numpy())
            # ordered accumulation over dims — fold-order parity (docstring)
            acc = np.outer(mat_a[:, 0], mat_c[:, 0])
            for i in range(1, mat_a.shape[1]):
                acc = acc + np.outer(mat_a[:, i], mat_c[:, i])
            cos = np.round(acc / np.outer(_norms(mat_a), n_c), 4)
            keep_a, keep_c = np.nonzero((cos >= threshold) & (ids_a[:, None] < ids_c[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": ids_a[keep_a],
                    "id_b": ids_c[keep_c],
                    "cos_sim": cos[keep_a, keep_c],
                }
            )

    return src.mapInPandas(score_block, "id_a long, id_b long, cos_sim double")


def cosine_near_dup_pairs_blocked(
    vectors: DataFrame,
    *,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold with NO driver collect: the
    tile-blocked twin of :func:`cosine_near_dup_pairs`.

    The corpus is split into ``n_blocks`` row blocks and every block
    pair (bi ≤ bj) becomes an independent tile: a row joins its tile as
    the row side for blocks to its right and as the column side for
    blocks above, so each row ships to ~``n_blocks`` tiles and each tile
    holds ~2n/B vectors — pick B ≈ corpus_bytes / executor_budget and
    the O(n²) compute spreads over B(B+1)/2 tasks with bounded memory,
    no broadcast, no driver matrix. The tile kernel reuses the same
    dimension-ordered fold as the broadcast path, so cosines (and the
    DuckDB oracle hash) are bit-identical. Off-diagonal tiles see each
    cross pair exactly once but in block order, not id order — the
    kernel re-orders to (min, max); the diagonal tile has both
    orientations and keeps ``id_a < id_b``. Compute stays O(n²): this is
    the exact BASELINE made cluster-shaped, LSH remains the scale path.
    """
    import numpy as np
    import pandas as pd

    src = vectors.select(
        _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
    )
    blk = F.pmod(F.col("id"), F.lit(n_blocks)).cast("int")
    a_side = (
        src.withColumn("bi", blk)
        .withColumn("bj", F.explode(F.sequence(F.col("bi"), F.lit(n_blocks - 1))))
        .withColumn("side", F.lit(0))
    )
    b_side = (
        src.withColumn("bj", blk)
        .withColumn("bi", F.explode(F.sequence(F.lit(0), F.col("bj"))))
        .withColumn("side", F.lit(1))
    )
    tiles = a_side.unionByName(b_side)

    def _norms(m):
        acc = m[:, 0] * m[:, 0]
        for i in range(1, m.shape[1]):
            acc = acc + m[:, i] * m[:, i]
        return np.sqrt(acc)

    def score_tile(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        a, b = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return empty
        ids_a = a["id"].to_numpy(dtype=np.int64)
        ids_b = b["id"].to_numpy(dtype=np.int64)
        ma, mb = np.stack(a["v"].to_numpy()), np.stack(b["v"].to_numpy())
        acc = np.outer(ma[:, 0], mb[:, 0])
        for i in range(1, ma.shape[1]):
            acc = acc + np.outer(ma[:, i], mb[:, i])
        cos = np.round(acc / np.outer(_norms(ma), _norms(mb)), 4)
        diag = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        cmp = (
            ids_a[:, None] < ids_b[None, :]
            if diag
            else ids_a[:, None] != ids_b[None, :]
        )
        ka, kb = np.nonzero((cos >= threshold) & cmp)
        ia, ib = ids_a[ka], ids_b[kb]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cos_sim": cos[ka, kb],
            }
        )

    return tiles.groupBy("bi", "bj").applyInPandas(
        score_tile, "id_a long, id_b long, cos_sim double"
    )


def _d2_fold(mat, cent):
    """(n, k) squared L2 distances, accumulated DIMENSION BY DIMENSION —
    the same left-fold association as an explicit SQL add chain
    ``(a[1]-c[1])*(a[1]-c[1]) + (a[2]-c[2])*... ``, so argmin/argsort
    assignment decisions agree with the DuckDB oracle bit-for-bit
    (numpy's default pairwise ``.sum()`` associates differently)."""
    d = mat[:, 0, None] - cent[None, :, 0]
    acc = d * d
    for i in range(1, mat.shape[1]):
        d = mat[:, i, None] - cent[None, :, i]
        acc = acc + d * d
    return acc


def ivf_build(
    vectors: DataFrame,
    *,
    n_lists: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: deterministic Lloyd k-means over the corpus.

    Returns ``(assignments, centroids)`` — `assignments` is a DataFrame
    (id, list_id) and `centroids` an (n_lists × dim) numpy array. The
    inverted-file layout is the third ANN scale path next to
    brute-force and hyperplane LSH: at 100 TB the corpus is written
    partitioned by ``list_id`` so a probe reads only nprobe/n_lists of
    the data (partition pruning does the candidate selection).

    Distributed pattern: assignment + per-list partial sums run as one
    Arrow-batched ``mapInPandas`` pass per iteration; the driver reduces
    only the (partitions × n_lists) partial-sum rows — the classic
    small-aggregate reduce, not a data collect. Determinism: centroids
    seeded from the n_lists ids with the smallest md5(id); argmin ties
    take the lowest list id.
    """
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    # zero-norm vectors are excluded from the index wholesale (not just
    # at scoring): the codebook seed pool and centroid updates must see
    # exactly the vectors the oracle's filtered corpus sees, or learned
    # state diverges and every downstream assignment shifts
    src = vectors.select(
        _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
    ).filter(_nonzero_norm(F.col("v")))
    seeds = (
        src.withColumn("h", F.md5(F.col("id").cast("string")))
        .orderBy("h")
        .limit(n_lists)
        .collect()
    )
    if not seeds:
        raise ValueError("ivf_build: empty corpus — nothing to quantize")
    # clamp: a corpus smaller than n_lists yields fewer seeds; every
    # later array (sums/counts) must agree with the true centroid count
    n_lists = len(seeds)
    cent = np.stack([np.asarray(r["v"], dtype=np.float64) for r in seeds])

    partial_schema = "list_id int, n long, s array<double>"

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches):
            c = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack(pdf["v"].to_numpy())
                lists = _d2_fold(mat, c).argmin(axis=1)  # ties -> lowest index
                rows = []
                for li in np.unique(lists):
                    sel = mat[lists == li]
                    rows.append((int(li), len(sel), sel.sum(axis=0).tolist()))
                yield pd.DataFrame(rows, columns=["list_id", "n", "s"])

        stats = src.mapInPandas(partials, partial_schema).collect()
        sums = np.zeros_like(cent)
        counts = np.zeros(n_lists, dtype=np.int64)
        for r in stats:
            sums[r["list_id"]] += np.asarray(r["s"])
            counts[r["list_id"]] += r["n"]
        nonempty = counts > 0
        cent[nonempty] = sums[nonempty] / counts[nonempty, None]

    bc = spark.sparkContext.broadcast(cent)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "list_id": _d2_fold(mat, c).argmin(axis=1).astype("int32"),
                }
            )

    assignments = src.mapInPandas(assign, "id long, list_id int")
    return assignments, cent


def collect_query_rows(
    queries: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """Collect the probe-query rows once — (query_id, qv) Rows, the
    exact frame every ANN probe collects internally. Callers probing
    several indexes with the SAME query set (the sim_ann_lsh union row)
    pass the result via each probe's ``qrows=`` so the bench path runs
    one collect job instead of one per probe (r15; queries are
    probe-sized by contract, so this is always a bounded collect)."""
    return queries.select(
        _id_as_long(queries, id_col, "query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    ).collect()


def ivf_search(
    corpus: DataFrame,
    assignments: DataFrame,
    centroids,
    queries: DataFrame,
    *,
    k: int = 3,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qrows=None,
) -> DataFrame:
    """IVF probe: each query scores only the nprobe nearest inverted
    lists, exactly like the LSH probe but with learned (k-means) cells —
    better recall per candidate at the same fan-in on clustered data.

    Returns (query_id, neighbor_id, rank, cos_sim). Queries are small by
    contract (probe vectors), so their list selection happens driver-side
    on the collected query rows; candidates stream through one join on
    ``list_id`` (at scale: a partition-pruned scan of the IVF layout).
    """
    import numpy as np

    from pyspark.sql import Window

    spark = corpus.sparkSession
    cent = np.asarray(centroids, dtype=np.float64)
    if qrows is None:
        qrows = collect_query_rows(queries, id_col=id_col, vec_col=vec_col)
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        if not np.any(qv * qv):
            # zero-norm contract (see knn_bruteforce) — tested on the
            # SQUARES so a subnormal vector whose squares all underflow
            # to 0 (norm == 0.0 exactly) is excluded like the oracle's
            # list_dot_product(v, v) > 0 would exclude it
            continue
        d2 = _d2_fold(qv[None, :], cent)[0]
        for li in np.argsort(d2, kind="stable")[:nprobe]:
            probe_rows.append((r["query_id"], r["qv"], int(li)))
    probes = local_frame(spark, probe_rows, "query_id long, qv array<double>, list_id int")
    dim = cent.shape[1]
    cand = (
        corpus.select(
            _id_as_long(corpus, id_col, "neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
        )
        .filter(_nonzero_norm(F.col("cv")))  # zero-norm contract
        .join(assignments.withColumnsRenamed({"id": "neighbor_id"}), "neighbor_id")
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv"), dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


def cosine_near_dup_pairs_lsh(
    vectors: DataFrame,
    *,
    threshold: float = 0.45,
    n_planes: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs with LSH pre-bucketing — the scale path
    for :func:`cosine_near_dup_pairs`.

    Candidates must share a hyperplane bucket: with p planes the pairwise
    work drops ~2^p-fold while high-cosine pairs (small angle) rarely
    straddle a plane. Recall is tunable by p (fewer planes → higher
    recall). Returns (id_a, id_b, cos_sim) within-bucket, cos ≥ threshold.
    """
    import numpy as np
    import pandas as pd

    dim = dim if dim is not None else _infer_dim(vectors, vec_col)
    planes = hyperplanes(n_planes, dim)

    # pass 1: hyperplane bucket per vector (shared Arrow-batched helper —
    # bucket signs bit-match the oracle's explicit add chain)
    bucketed = _bucketize(
        vectors.select(
            _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
        ),
        planes,
        vec="v",
    )

    # pass 2 (applyInPandas per bucket): exact in-cell block scoring —
    # one shuffle on bucket (at scale, bucket is the storage partition
    # key, so this is a partition-local pass), numpy block product with
    # fold-order parity as in cosine_near_dup_pairs.
    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        mat = np.stack(pdf["v"].to_numpy())
        nacc = mat[:, 0] * mat[:, 0]
        acc = np.outer(mat[:, 0], mat[:, 0])
        for i in range(1, mat.shape[1]):
            nacc = nacc + mat[:, i] * mat[:, i]
            acc = acc + np.outer(mat[:, i], mat[:, i])
        norms = np.sqrt(nacc)
        cos = np.round(acc / np.outer(norms, norms), 4)
        keep_a, keep_b = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"id_a": ids[keep_a], "id_b": ids[keep_b], "cos_sim": cos[keep_a, keep_b]}
        )

    return bucketed.groupBy("bucket").applyInPandas(
        score, "id_a long, id_b long, cos_sim double"
    )


def pq_build(
    vectors: DataFrame,
    *,
    m: int = 4,
    ksub: int = 8,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantization codebooks + codes: the memory-bounded ANN
    path. The dim-D space splits into ``m`` subspaces of D/m dims; each
    subspace gets its own ``ksub``-centroid quantizer, and a vector is
    stored as m small codes (m bytes at ksub≤256) instead of D doubles —
    at 100 TB of embeddings this is the difference between a rescoring
    scan that fits in cluster memory and one that doesn't (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    public method).

    Returns ``(codes, centroids)``: codes is (id, code_0..code_{m-1})
    and centroids an (m × ksub × D/m) numpy array. Determinism mirrors
    ivf_build: centroids seed from the ksub ids with smallest md5(id)
    (each seed vector sliced per subspace), assignment argmin ties take
    the lowest code, and distances accumulate dimension-by-dimension
    (_d2_fold) so the iters=0 machinery is oracle-twinnable in SQL;
    Lloyd refinement (iters>0) runs per subspace as the same
    Arrow-batched partial-sums reduce as ivf_build and is covered by
    pytest recall tests.
    """
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    # zero-norm exclusion mirrors ivf_build: codebooks are learned state
    # and must be built over the same corpus the oracle filters
    src = vectors.select(
        _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
    ).filter(_nonzero_norm(F.col("v")))
    seeds = (
        src.withColumn("h", F.md5(F.col("id").cast("string")))
        .orderBy("h")
        .limit(ksub)
        .collect()
    )
    if not seeds:
        raise ValueError("pq_build: empty corpus — nothing to quantize")
    ksub = len(seeds)  # clamp like ivf_build
    dim = len(seeds[0]["v"])
    if dim % m != 0:
        raise ValueError(f"pq_build: dim {dim} not divisible by m={m}")
    dsub = dim // m
    full = np.stack([np.asarray(r["v"], dtype=np.float64) for r in seeds])
    cent = np.stack([full[:, j * dsub : (j + 1) * dsub] for j in range(m)])

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches):
            c = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack(pdf["v"].to_numpy())
                rows = []
                for j in range(m):
                    sub = mat[:, j * dsub : (j + 1) * dsub]
                    codes = _d2_fold(sub, c[j]).argmin(axis=1)
                    for cc in np.unique(codes):
                        sel = sub[codes == cc]
                        rows.append((j, int(cc), len(sel), sel.sum(axis=0).tolist()))
                yield pd.DataFrame(rows, columns=["j", "code", "n", "s"])

        stats = src.mapInPandas(partials, "j int, code int, n long, s array<double>").collect()
        sums = np.zeros_like(cent)
        counts = np.zeros((m, ksub), dtype=np.int64)
        for r in stats:
            sums[r["j"], r["code"]] += np.asarray(r["s"])
            counts[r["j"], r["code"]] += r["n"]
        nonempty = counts > 0
        for j in range(m):
            ne = nonempty[j]
            cent[j][ne] = sums[j][ne] / counts[j][ne, None]

    bc = spark.sparkContext.broadcast(cent)

    def encode(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            out = {"id": pdf["id"].to_numpy()}
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                out[f"code_{j}"] = _d2_fold(sub, c[j]).argmin(axis=1).astype("int32")
            yield pd.DataFrame(out)

    schema = "id long, " + ", ".join(f"code_{j} int" for j in range(m))
    return src.mapInPandas(encode, schema), cent


def _adc_lookup_rows(centroids, qrows, m, ksub, dsub):
    """Driver-side ADC lookup construction shared by pq_search and
    ivfpq_search: per (query, subspace, code) → (pd, cn2), plus the
    query norm. Queries are probe-sized by contract, so this is a
    bounded (|queries| × m × ksub)-row build, never a data collect.
    Every double is a sequential fold — bit-exact vs the DuckDB
    oracle's list_dot_product."""
    import math

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    lookups: list[list[tuple]] = [[] for _ in range(m)]
    qnorms: list[tuple] = []
    for r in qrows:
        qv = [float(x) for x in r["qv"]]
        qn = math.sqrt(fold_dot(qv, qv))
        if qn == 0.0:
            continue  # zero-norm contract (see knn_bruteforce)
        qnorms.append((r["query_id"], qn))
        for j in range(m):
            qs = qv[j * dsub : (j + 1) * dsub]
            for c in range(ksub):
                cv = [float(x) for x in centroids[j][c]]
                lookups[j].append((r["query_id"], c, fold_dot(qs, cv), fold_dot(cv, cv)))
    return lookups, qnorms


def _adc_query_frame(spark, lookups, qnorms, m: int) -> DataFrame:
    """ONE broadcastable row per (non-zero-norm) query carrying qn plus
    the m per-subspace ADC lookup tables as code-indexed arrays:
    ``pda_j[c]`` = dot(q_sub_j, centroid_c), ``cna_j[c]`` =
    |centroid_c|². Replaces the m per-subspace broadcast lookup joins
    plus the qnorm join (5 broadcast exchanges per probe at m=4) with a
    SINGLE broadcast and codegen array lookups (r15, guide §2.4/§3.1):
    the exact same doubles land in the same pd_j/cn2_j columns, so the
    fixed-order score assembly in :func:`_adc_score_topk` is
    bit-identical to the join form."""
    ksub = 1 + max((c for rows in lookups for (_, c, _, _) in rows), default=-1)
    pd_by_q: list[dict] = [{} for _ in range(m)]
    cn_by_q: list[dict] = [{} for _ in range(m)]
    for j in range(m):
        for qid, c, pd, cn2 in lookups[j]:
            pd_by_q[j].setdefault(qid, [0.0] * ksub)[c] = pd
            cn_by_q[j].setdefault(qid, [0.0] * ksub)[c] = cn2
    rows = []
    for qid, qn in qnorms:
        row: list = [qid, qn]
        for j in range(m):
            row.append(pd_by_q[j][qid])
            row.append(cn_by_q[j][qid])
        rows.append(tuple(row))
    schema = "query_id long, qn double, " + ", ".join(
        f"pda_{j} array<double>, cna_{j} array<double>" for j in range(m)
    )
    return local_frame(spark, rows, schema)


def _adc_attach_lookups(cand: DataFrame, m: int) -> DataFrame:
    """Project the per-subspace lookup columns out of the broadcast
    arrays: pd_j/cn2_j = the code_j-th entry (0-based GetArrayItem —
    codes are 0..ksub-1 by construction, so the access never strays)."""
    cols = {}
    for j in range(m):
        idx = F.col(f"code_{j}")
        cols[f"pd_{j}"] = F.col(f"pda_{j}")[idx]
        cols[f"cn2_{j}"] = F.col(f"cna_{j}")[idx]
    drop = [f"pda_{j}" for j in range(m)] + [f"cna_{j}" for j in range(m)]
    return cand.withColumns(cols).drop(*drop)


def _adc_score_topk(scored, m: int, k: int) -> DataFrame:
    """Fixed-order ADC score assembly + per-query top-k, shared by the
    PQ family: ``scored`` carries query_id, neighbor_id, qn and the
    joined pd_j/cn2_j columns. The add chains associate j = 0..m-1 —
    the exact order the oracle SQL spells out."""
    from pyspark.sql import Window

    sp = F.col("pd_0")
    sn = F.col("cn2_0")
    for j in range(1, m):
        sp = sp + F.col(f"pd_{j}")
        sn = sn + F.col(f"cn2_{j}")
    cand = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        # a zero reconstructed norm (all-zero codebook cells) has no
        # cosine direction — excluded like zero-norm vectors everywhere
        .filter(sn > 0)
        .withColumn("cos_sim", sp / (F.col("qn") * F.sqrt(sn)))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


def pq_search(
    codes: DataFrame,
    centroids,
    queries: DataFrame,
    *,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qrows=None,
) -> DataFrame:
    """Asymmetric-distance (ADC) probe over PQ codes: each query
    precomputes one (m × ksub) lookup table of subspace dot products
    driver-side (queries are probe-sized by contract, like ivf_search),
    and every corpus vector is scored from its m codes alone — the
    corpus scan touches codes, never raw vectors.

    Scoring is approximate cosine against the RECONSTRUCTED vector:
    cos ≈ Σ_j pd_j / (|q| · sqrt(Σ_j cn2_j)) where pd_j =
    dot(q_sub_j, centroid) and cn2_j = |centroid|². Both sums are
    FIXED-ORDER add chains (j = 0..m-1) and every dot is a sequential
    fold, so the DuckDB oracle reproduces each double bit-for-bit; the
    m lookup joins are broadcast (ksub·|queries| rows each) and the
    whole scan stays in whole-stage codegen — no UDF, one corpus pass,
    no shuffle until the per-query top-k window.
    """
    import numpy as np

    spark = codes.sparkSession
    cent = np.asarray(centroids, dtype=np.float64)
    m, ksub, dsub = cent.shape

    if qrows is None:
        qrows = collect_query_rows(queries, id_col=id_col, vec_col=vec_col)
    lookups, qnorms = _adc_lookup_rows(cent, qrows, m, ksub, dsub)
    # one broadcast fans the corpus out per query (every query scores
    # every code row); the per-subspace lookups are code-indexed array
    # reads in codegen — was m broadcast lookup joins + a qnorm join
    # (r15: 5 broadcast exchanges → 1, see _adc_query_frame)
    qf = _adc_query_frame(spark, lookups, qnorms, m)
    scored = (
        codes.withColumnsRenamed({"id": "neighbor_id"})
        .crossJoin(F.broadcast(qf))
    )
    return _adc_score_topk(_adc_attach_lookups(scored, m), m, k)


def ivfpq_build(
    vectors: DataFrame,
    *,
    n_lists: int = 16,
    m: int = 4,
    ksub: int = 8,
    iters: int = 0,
    keep_vectors: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The composed large-scale ANN index — IVF coarse partitioning over
    PQ-compressed codes (IVF-ADC, Jégou et al. TPAMI 2011 §IV).

    Returns ``(indexed, coarse_centroids, pq_centroids)`` where
    ``indexed`` is (id, list_id, code_0..code_{m-1}): each vector's
    inverted-list assignment plus its m-byte PQ code. This is THE table
    the 100 TB layout stores — write it via
    ``write_ann_layout(indexed, path, key_col="list_id",
    sort_col="id")`` and a probe becomes a partition-pruned scan
    (nprobe/n_lists of the corpus) that reads m small ints per row
    instead of D doubles; ADC lookup tables are the only per-query
    state. Both halves reuse the oracled machinery (ivf_build /
    pq_build), so iters=0 composition twins in SQL exactly like the
    'ivf' and 'pq' branches do. Codes quantize the RAW vectors (not
    residuals): residual codebooks depend on iterated cross-row float
    sums, which would break oracle-twinnability; the pytest recall test
    covers the Lloyd-refined (iters>0) variant.

    ``keep_vectors=True`` additionally carries the raw vector (column
    ``v``, array<double>) through to ``indexed`` — required for the
    exact re-ranking stage (IVFADC+R, ibid. §V): the stored layout then
    holds codes AND vectors per list, so a probe can rescore its ADC
    shortlist exactly from the same pruned scan.

    r15: at ``iters=0`` (the deterministic/oracled configuration) the
    build is FUSED — one seeds collect and one Arrow pass emit
    (id[, v], list_id, code_*) directly. Bit-identical to the composed
    form because both halves seed from the SAME md5-of-id order (the
    ksub pq seeds are a prefix of the n_lists ivf seeds when
    ksub ≤ n_lists, each sliced exactly as before) and the two argmins
    are independent functions of the same row; the composed form's
    2 seed jobs + 2 corpus Python passes + codes ⋈ assignments join
    (+ the keep_vectors join) collapse into 1 + 1 + 0. Parity pinned by
    test_ivfpq_fused_build_matches_composed; Lloyd refinement
    (iters>0) keeps the composed path unchanged."""
    if iters == 0:
        return _ivfpq_build_fused(
            vectors,
            n_lists=n_lists,
            m=m,
            ksub=ksub,
            keep_vectors=keep_vectors,
            id_col=id_col,
            vec_col=vec_col,
        )
    assignments, coarse = ivf_build(
        vectors, n_lists=n_lists, iters=iters, id_col=id_col, vec_col=vec_col
    )
    codes, pq_cents = pq_build(
        vectors, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col
    )
    indexed = codes.join(assignments, "id")
    if keep_vectors:
        vecs = vectors.select(
            _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
        )
        indexed = indexed.join(vecs, "id")
    return indexed, coarse, pq_cents


def _ivfpq_build_fused(
    vectors: DataFrame,
    *,
    n_lists: int,
    m: int,
    ksub: int,
    keep_vectors: bool,
    id_col: str,
    vec_col: str,
):
    """iters=0 fused IVF-ADC build (see :func:`ivfpq_build`): one
    TakeOrdered seeds collect covering BOTH codebooks (the md5-of-id
    order is shared law — ivf takes the first n_lists seeds, pq the
    first ksub, exactly the rows the separate ``limit()`` collects
    returned) and one mapInPandas pass computing both argmins per row
    with the same :func:`_d2_fold` association. Clamping laws preserved:
    a corpus smaller than either codebook clamps that codebook alone."""
    import numpy as np
    import pandas as pd

    src = vectors.select(
        _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
    ).filter(_nonzero_norm(F.col("v")))
    seeds = (
        src.withColumn("h", F.md5(F.col("id").cast("string")))
        .orderBy("h")
        .limit(max(int(n_lists), int(ksub)))
        .collect()
    )
    if not seeds:
        raise ValueError("ivfpq_build: empty corpus — nothing to quantize")
    n_lists = min(int(n_lists), len(seeds))  # clamp like ivf_build
    ksub = min(int(ksub), len(seeds))  # clamp like pq_build
    dim = len(seeds[0]["v"])
    if dim % m != 0:
        raise ValueError(f"pq_build: dim {dim} not divisible by m={m}")
    dsub = dim // m
    full = np.stack([np.asarray(r["v"], dtype=np.float64) for r in seeds])
    coarse = full[:n_lists].copy()
    pq_cents = np.stack(
        [full[:ksub, j * dsub : (j + 1) * dsub] for j in range(m)]
    )
    bc = src.sparkSession.sparkContext.broadcast((coarse, pq_cents))

    def assign_and_encode(batches):
        c, pq = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            out = {"id": pdf["id"].to_numpy()}
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                out[f"code_{j}"] = _d2_fold(sub, pq[j]).argmin(axis=1).astype("int32")
            out["list_id"] = _d2_fold(mat, c).argmin(axis=1).astype("int32")
            if keep_vectors:
                out["v"] = pdf["v"]
            yield pd.DataFrame(out)

    # column order matches the composed join form: (id, code_*, list_id[, v])
    schema = (
        "id long, "
        + ", ".join(f"code_{j} int" for j in range(m))
        + ", list_id int"
        + (", v array<double>" if keep_vectors else "")
    )
    return src.mapInPandas(assign_and_encode, schema), coarse, pq_cents


def _ivfpq_query_state(coarse, pq_cents, qrows, *, nprobe: int):
    """Driver-side per-query state for an IVF-ADC probe: the nprobe
    nearest inverted lists (same stable argsort + lowest-list-id
    tie-break as ivf_search) and the ADC lookup rows. Bounded by the
    probe-sized query contract."""
    import numpy as np

    cent = np.asarray(coarse, dtype=np.float64)
    pq = np.asarray(pq_cents, dtype=np.float64)
    m, ksub, dsub = pq.shape
    lookups, qnorms = _adc_lookup_rows(pq, qrows, m, ksub, dsub)
    valid = {q for q, _ in qnorms}  # zero-norm queries already excluded
    probe_rows = []
    for r in qrows:
        if r["query_id"] not in valid:
            continue
        qv = np.asarray(r["qv"], dtype=np.float64)
        d2 = _d2_fold(qv[None, :], cent)[0]
        for li in np.argsort(d2, kind="stable")[:nprobe]:
            probe_rows.append((r["query_id"], int(li)))
    return probe_rows, lookups, qnorms, m


def _adc_join_score(spark, cand: DataFrame, lookups, qnorms, m: int, k: int) -> DataFrame:
    """ADC scoring for candidates that already carry query_id (the
    IVF-ADC path — candidates came from a probes join): ONE broadcast
    join on query_id attaches the code-indexed lookup arrays (was m
    per-subspace lookup joins + a qnorm join — r15, _adc_query_frame),
    then the shared fixed-order score assembly ranks. The inner join
    drops zero-norm queries exactly as the lookup joins did (they are
    absent from the frame, as they were from every lookup table)."""
    qf = _adc_query_frame(spark, lookups, qnorms, m)
    cand = cand.join(F.broadcast(qf), "query_id")
    return _adc_score_topk(_adc_attach_lookups(cand, m), m, k)


def _exact_rerank(
    spark, shortlist: DataFrame, cand_vectors: DataFrame, qrows, qnorms, k: int
) -> DataFrame:
    """IVFADC+R second stage: exact-cosine rescoring of the ADC
    shortlist (Jégou et al. TPAMI 2011 §V). The shortlist is
    (R × |queries|) rows — tiny by construction — joined back to the
    raw vectors and scored with the SAME unrolled codegen dot chain as
    knn_bruteforce, so reranked results are directly comparable with
    (and at full budget equal to) the exact path. ADC ranks select the
    candidates; exact cosine decides the final order."""
    from pyspark.sql import Window

    qn_map = dict(qnorms)
    qdf = local_frame(
        spark,
        [
            (r["query_id"], [float(x) for x in r["qv"]], qn_map[r["query_id"]])
            for r in qrows
            if r["query_id"] in qn_map
        ],
        "query_id long, qv array<double>, qn double",
    )
    if not qn_map:
        return shortlist.limit(0)
    dim = len(qrows[0]["qv"])
    scored = (
        shortlist.select("query_id", "neighbor_id")
        .join(cand_vectors, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "cos_sim",
            _dot(F.col("qv"), F.col("v"), dim) / (F.col("qn") * _norm(F.col("v"), dim)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


def ivfpq_search(
    indexed: DataFrame,
    coarse,
    pq_cents,
    queries: DataFrame,
    *,
    k: int = 3,
    nprobe: int = 4,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qrows=None,
) -> DataFrame:
    """IVF-ADC probe over the composed index from :func:`ivfpq_build`:
    each query selects its nprobe nearest inverted lists (candidate
    pruning), and candidates are scored from their PQ codes alone via
    broadcast ADC lookup tables (memory-bounded rescoring). Returns
    (query_id, neighbor_id, rank, cos_sim) — the same contract as every
    other ANN probe. At 100 TB the ``indexed`` table is the stored
    layout partitioned by list_id, so the probes join below is a
    partition-pruned scan; :func:`ivfpq_probe_stored` is that exact
    composition over a written layout.

    ``rerank=R > 0`` enables the IVFADC+R second stage: ADC picks a
    top-R shortlist per query, then the R raw vectors are rescored with
    the exact codegen cosine and the top-k of THAT ordering returns.
    Requires ``indexed`` built with ``keep_vectors=True`` (column
    ``v``). PQ codes collapse near-identical vectors to tied scores, so
    without rerank the within-cell order is id-tie-broken; rerank
    restores exact-rank recall at the cost of reading R vectors per
    query instead of zero."""
    spark = indexed.sparkSession
    if rerank and "v" not in indexed.columns:
        raise ValueError(
            "ivfpq_search(rerank>0) needs raw vectors in the index — "
            "build with ivfpq_build(keep_vectors=True)"
        )
    if qrows is None:
        qrows = collect_query_rows(queries, id_col=id_col, vec_col=vec_col)
    probe_rows, lookups, qnorms, m = _ivfpq_query_state(
        coarse, pq_cents, qrows, nprobe=nprobe
    )
    probes = local_frame(spark, probe_rows, "query_id long, list_id int")
    cand = indexed.withColumnsRenamed({"id": "neighbor_id"}).join(
        F.broadcast(probes), "list_id"
    )
    adc = _adc_join_score(spark, cand, lookups, qnorms, m, rerank if rerank else k)
    if not rerank:
        return adc
    cand_vecs = indexed.select(F.col("id").alias("neighbor_id"), "v")
    return _exact_rerank(spark, adc, cand_vecs, qrows, qnorms, k)


def ivfpq_probe_stored(
    spark,
    path: str,
    coarse,
    pq_cents,
    queries: DataFrame,
    *,
    k: int = 3,
    nprobe: int = 4,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a STORED IVF-ADC layout: the ``indexed`` table from
    :func:`ivfpq_build` written via ``write_ann_layout(..,
    key_col="list_id", sort_col="id")``. The union of every query's
    probe lists prunes the scan to those ``list_id=`` directories
    (PartitionFilters — same mechanism test_ann_layout_probe_prunes
    pins), then the per-query probes join narrows candidates to each
    query's own lists and ADC scores them from codes. Probe cost is
    ∝ nprobe/n_lists of the corpus and the scan reads m ints per row —
    corpus size never enters.

    ``rerank=R > 0`` (layout written with ``keep_vectors=True``)
    rescores the ADC top-R exactly from the vectors in the SAME pruned
    scan — the IVFADC+R layout: no second lookup leaves the probed
    directories (see :func:`ivfpq_search`)."""
    from .layout import probe_ann_layout

    qrows = queries.select(
        _id_as_long(queries, id_col, "query_id"), as_double(F.col(vec_col)).alias("qv")
    ).collect()
    probe_rows, lookups, qnorms, m = _ivfpq_query_state(
        coarse, pq_cents, qrows, nprobe=nprobe
    )
    probes = local_frame(spark, probe_rows, "query_id long, list_id int")
    lists = sorted({li for _, li in probe_rows})
    scan = probe_ann_layout(spark, path, lists, key_col="list_id")
    if rerank and "v" not in scan.columns:
        raise ValueError(
            "ivfpq_probe_stored(rerank>0) needs raw vectors in the layout — "
            "write an index built with ivfpq_build(keep_vectors=True)"
        )
    cand = scan.withColumnsRenamed({"id": "neighbor_id"}).join(
        F.broadcast(probes), "list_id"
    )
    adc = _adc_join_score(spark, cand, lookups, qnorms, m, rerank if rerank else k)
    if not rerank:
        return adc
    cand_vecs = scan.select(F.col("id").alias("neighbor_id"), "v")
    return _exact_rerank(spark, adc, cand_vecs, qrows, qnorms, k)


def semdedup(
    vectors: DataFrame,
    *,
    threshold: float = 0.45,
    n_lists: int = 16,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
    tile: int = 2048,
) -> DataFrame:
    """SemDeDup: semantic deduplication = k-means clustering + within-
    cluster cosine pruning (Abbas et al., "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication", 2023 — public
    arXiv paper; no reference-repo equivalent, this is a training-data
    extension).

    Cluster the corpus with the SAME deterministic k-means the IVF index
    uses (:func:`ivf_build` — md5-seeded, iters=0 twins in SQL), then
    within each cluster drop every document that has a LOWER-id neighbor
    with cosine ≥ ``threshold``. Keep-lowest-id is the deterministic
    stand-in for the paper's keep-one-per-neighborhood policy (the paper
    keeps the point farthest from the centroid; any single-survivor rule
    gives the same dedup factor).

    Returns one row per DROPPED document: (id, witness, cos_sim) where
    ``witness`` is the smallest-id neighbor that condemned it and
    ``cos_sim`` the rounded cosine to that witness.

    Scale shape: ONE shuffle (groupBy list_id) and a per-cluster
    quadratic numpy kernel — the whole point of SemDeDup is that
    clustering first makes the O(n²) pairwise step O(Σ c_i²) with
    c_i ≈ n/n_lists, so at 100 TB you grow ``n_lists`` ∝ n (the paper
    uses 50k clusters for 7.5B docs) and each cluster stays a bounded
    in-memory tile. No driver collect of the corpus; only the
    (n_lists × dim) centroid matrix is broadcast. Pass a precomputed
    ``assignments`` (e.g. the stored IVF layout's ``list_id`` column) to
    skip the build and make this a pure partition-local pass over the
    stored index.

    Float parity: the in-cluster gram matrix accumulates DIMENSION BY
    DIMENSION (the same left-fold association as DuckDB's
    ``list_dot_product``), rounds to 4 decimals and THEN applies the
    threshold — identical to :func:`cosine_near_dup_pairs_blocked`, so
    the DuckDB oracle reproduces the dropped set bit-for-bit.
    """
    import numpy as np
    import pandas as pd

    src = vectors.select(
        _id_as_long(vectors, id_col, "id"), as_double(F.col(vec_col)).alias("v")
    ).filter(_nonzero_norm(F.col("v")))
    if assignments is not None:
        # precomputed (stored-layout) path: one equi-join on id
        grouped = src.join(assignments, "id")
    else:
        # self-built path: run the assignment pass ourselves, carrying v
        # through — one mapInPandas instead of ivf_build's (id, list_id)
        # output re-joined to the vectors (a sort-merge self-join: two
        # exchanges + sorts the plan doesn't need)
        _, cent = ivf_build(
            vectors, n_lists=n_lists, iters=iters, id_col=id_col, vec_col=vec_col
        )
        bc = src.sparkSession.sparkContext.broadcast(cent)

        def assign_with_v(batches):
            c = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack(pdf["v"].to_numpy())
                pdf = pdf.assign(list_id=_d2_fold(mat, c).argmin(axis=1).astype("int32"))
                yield pdf

        grouped = src.mapInPandas(
            assign_with_v, "id long, v array<double>, list_id int"
        )

    # ``tile`` = column-tile width for the in-cluster gram matrix: task
    # memory is O(c × tile) doubles instead of O(c²), so one skewed
    # cluster (the boilerplate-embedding regime) degrades to more tiles,
    # never an OOM
    TILE = tile

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {"id": pd.Series(dtype="int64"), "witness": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        order = np.argsort(pdf["id"].to_numpy(dtype=np.int64), kind="stable")
        ids = pdf["id"].to_numpy(dtype=np.int64)[order]
        mat = np.stack(pdf["v"].to_numpy())[order]
        n = len(ids)
        nrm_acc = mat[:, 0] * mat[:, 0]
        for i in range(1, mat.shape[1]):
            nrm_acc = nrm_acc + mat[:, i] * mat[:, i]
        nrm = np.sqrt(nrm_acc)
        rows = np.arange(n)[:, None]
        out_id, out_w, out_cos = [], [], []
        for b0 in range(1, n, TILE):  # column 0 has no lower-id neighbor
            b1 = min(b0 + TILE, n)
            sub = mat[b0:b1]
            # dimension-ordered fold (oracle association; see docstring)
            acc = np.outer(mat[:, 0], sub[:, 0])
            for i in range(1, mat.shape[1]):
                acc = acc + np.outer(mat[:, i], sub[:, i])
            cos = np.round(acc / np.outer(nrm, nrm[b0:b1]), 4)
            # ids ascending ⇒ "has a lower-id neighbor" = any True
            # strictly above the diagonal in column j; argmax finds the
            # FIRST (= the smallest witness id)
            hit = (cos >= threshold) & (rows < np.arange(b0, b1)[None, :])
            dropped = hit.any(axis=0)
            if not dropped.any():
                continue
            j = np.nonzero(dropped)[0]
            w = hit[:, j].argmax(axis=0)
            out_id.append(ids[b0:b1][j])
            out_w.append(ids[w])
            out_cos.append(cos[w, j])
        if not out_id:
            return empty
        return pd.DataFrame(
            {
                "id": np.concatenate(out_id),
                "witness": np.concatenate(out_w),
                "cos_sim": np.concatenate(out_cos),
            }
        )

    return grouped.groupBy("list_id").applyInPandas(
        prune, "id long, witness long, cos_sim double"
    )


def hashed_text_embeddings(
    docs: DataFrame,
    *,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int | tuple[int, int] = 1,
) -> DataFrame:
    """(id_col, embedding): a DETERMINISTIC text->vector embedder —
    feature-hashed unigrams with hashed random signs (the hashing trick,
    Weinberger et al. 2009 / Charikar 2002's sign trick): each token g
    adds sign(g) = ±1 (parity of md5_long('hs|'||g)) to component
    md5_long('he|'||g) % dim, with multiplicity. Near-identical texts
    share almost all token contributions, so their vectors land at
    cosine ≈ 1 — enough signal for SemDeDup / cluster-balanced mixing /
    the vector index to run on a TEXT-ONLY corpus with no external
    embedding model, and (unlike a model) bit-reproducible in ANSI SQL,
    so the whole text→vector→near-dup loop is oracle-verifiable
    ('hembed' branch of sim_cosine_near_dup).

    Spark-first shape: one explode + ONE doc-keyed shuffle — the
    groupBy computes the dim components as `dim` conditional sums
    (map-side partial agg; the simhash idiom), everything whole-stage
    codegen, no Python. At 100 TB the cost is the token explode (linear
    in corpus tokens) and a doc-sized exchange — the same shape as
    simhash/minhash, and strictly cheaper than any model inference.
    Components are exact small integers (cast to double), so downstream
    dot products are exact and cross-engine rounding is safe.

    Zero-token docs (NULL/empty text) produce NO row — they have no
    content to be semantically near anything; exact dedup owns them.
    A doc whose signs cancel to the exact zero vector is emitted (the
    caller's zero-norm filter owns that, matching the embeddings-table
    convention).

    ``ngram=(1, 2)`` hashes space-joined token BIGRAMS alongside the
    unigrams — the same explode + one-doc-keyed-shuffle shape with ~2×
    the gram rows. Bigrams make the vector word-ORDER sensitive: a
    bag-identical permutation of a text (cosine exactly 1 under
    unigrams, indistinguishable at any threshold) separates from a true
    word-substitution paraphrase that preserves local order — the
    discrimination SemDeDup and cluster-balanced mixing need on
    template-heavy corpora (recall A/B in tests/test_dataops.py and
    README). The oracled 'hembed' branch stays on the frozen unigram
    law; the bigram rows use the posexplode/element_at idiom rather
    than a transform-built array (quality_signals measured the lambda
    form ~4× slower — interpreted per element)."""
    from ..functions.texttools import md5_long, tokens
    from . import fanout

    lo, hi = (ngram, ngram) if isinstance(ngram, int) else ngram
    if (lo, hi) not in ((1, 1), (1, 2)):
        raise ValueError(f"ngram must be 1 or (1, 2), got {ngram!r}")
    # project early (only the two columns the embedder reads) and fan
    # the DOC rows out to the session parallelism (r16): the heavy work
    # is MAP-side — the gram explode plus two md5s per gram feeding the
    # partial aggregate — and a small corpus scans as ONE split, which
    # serialized that whole pass on one core (the winnow fan-out lesson;
    # measured 2.4 s single-task on the sf0.1 hembed branch). At scale
    # the scan out-splits the cores and the guard adds nothing.
    docs = fanout(docs.select(F.col(id_col), F.col(text_col)))
    tok = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("g"),
    )
    if hi >= 2:
        tk = tokens(F.col(text_col))
        bi = (
            docs.select(F.col(id_col).alias("__id"), tk.alias("tk"))
            .filter(F.size("tk") >= 2)
            .select(
                "__id",
                "tk",
                F.explode(F.sequence(F.lit(2), F.size("tk"))).alias("i"),
            )
            .select(
                "__id",
                F.concat_ws(
                    " ",
                    F.element_at("tk", F.col("i") - 1),
                    F.element_at("tk", F.col("i")),
                ).alias("g"),
            )
        )
        tok = tok.unionByName(bi)
    # md5_long is non-negative (60-bit from hex), so plain % matches
    # DuckDB's % with no pmod shim
    j = md5_long(F.concat(F.lit("he|"), F.col("g"))) % dim
    s = F.when(
        md5_long(F.concat(F.lit("hs|"), F.col("g"))) % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    sums = tok.select(F.col("__id"), j.alias("j"), s.alias("s")).groupBy(
        "__id"
    ).agg(
        *[
            F.sum(F.when(F.col("j") == i, F.col("s")).otherwise(0)).alias(
                f"c{i}"
            )
            for i in range(dim)
        ]
    )
    emb = F.array(*[F.col(f"c{i}").cast("double") for i in range(dim)])
    return sums.select(F.col("__id").alias(id_col), emb.alias("embedding"))

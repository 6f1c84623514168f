"""Sequence packing for LLM pretraining pipelines.

Pretraining consumes fixed-length context windows, not documents: the
standard prep step concatenates the tokenized corpus in a deterministic
order and chunks it every ``budget`` tokens ("concat-and-chunk", as in
GPT/Llama-style data loaders). The assignment of a document to a chunk
is a pure function of the exclusive running token sum at its start —
which makes it both SQL-expressible (a window sum for the DuckDB
oracle) and embarrassingly parallel in Spark once the global prefix
sum is known.

A naive ``Window.orderBy(doc_id)`` running sum funnels the whole corpus
through ONE task; this module reuses the two-pass global-numbering
pattern from :func:`..operators.latest.stride_sample` (range shuffle →
partition-local window → tiny per-partition totals collected, prefix
offsets broadcast back). One shuffle total, no single-task stage, same
``localCheckpoint`` consistency contract (range boundaries are sampled,
so the totals pass and the output pass must read the same materialized
layout).

Reference analogue: none (the reference stores raw rows); this is the
training-data pipeline's batching step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def global_exclusive_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | Column,
    out_col: str = "start_offset",
) -> DataFrame:
    """Adds ``out_col`` = sum of ``value_col`` over all rows strictly
    before this one in the total order of ``order_cols``.

    Two-pass exact global prefix sum without a single-partition window:
    range-partition on the order columns, partition-local running sum
    via a ``__pid``-partitioned window, then per-partition totals
    (≤ ``spark.sql.shuffle.partitions`` rows) collected to the driver
    and rebroadcast as offsets, a local relation built by
    :func:`~adsb_clickhouse_spark.session.local_frame`. The partitioned layout is
    ``localCheckpoint``-ed before the totals pass because
    ``repartitionByRange`` samples its boundaries — two evaluations of
    the same lineage may split rows differently, silently corrupting
    the offsets (see stride_sample's longer note).
    """
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    d = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("__v", value)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = sorted(
        (r["__pid"], r["__t"])
        for r in d.groupBy("__pid").agg(F.sum("__v").alias("__t")).collect()
    )
    offsets, acc = [], 0
    for pid, t in totals:
        offsets.append((pid, acc))
        acc += t or 0
    off_df = local_frame(df.sparkSession, offsets or [(0, 0)], "__pid int, __off long")
    return (
        d.withColumn("__csum", F.sum("__v").over(w))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, F.col("__off") + F.col("__csum") - F.col("__v"))
        .drop("__v", "__pid", "__csum", "__off")
    )


def write_training_shards(
    packed: DataFrame,
    path: str,
    *,
    packs_per_shard: int = 64,
    token_col: str = "n_tokens",
    fmt: str = "json",
) -> dict:
    """Export a packed corpus as deterministic, token-budgeted training
    shards plus a manifest — the hand-off artifact a training loader
    consumes (JSONL shard files of ~packs_per_shard × pack-budget
    tokens each, the standard pretraining corpus layout).

    Shard assignment is a pure function of ``pack_id`` (``pack_id div
    packs_per_shard``), so shards are reproducible, contiguous in the
    packing order, and capped at packs_per_shard context windows (± the
    documents straddling a shard's first/last window). The write is one
    shuffle: ``repartition(shard_id)`` co-locates each shard, then
    ``partitionBy(shard_id)`` lays out one directory per shard — at
    cluster scale every shard is written by one task with no
    driver-side data movement.

    Returns (and writes to ``<path>/_manifest.json``) per-shard row and
    token counts — the manifest aggregate is shard-count-sized, the one
    deliberately driver-sized collect here.
    """
    if packs_per_shard <= 0:
        raise ValueError("packs_per_shard must be positive")
    df = packed.withColumn(
        "shard_id", F.expr(f"pack_id div {int(packs_per_shard)}").cast("long")
    )
    (
        df.repartition(F.col("shard_id"))
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .format(fmt)
        .save(path)
    )
    stats = (
        df.groupBy("shard_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum(token_col).alias("tokens"),
            F.min("pack_id").alias("first_pack"),
            F.max("pack_id").alias("last_pack"),
        )
        .orderBy("shard_id")
        .collect()
    )
    manifest = {
        "format": fmt,
        "packs_per_shard": int(packs_per_shard),
        "n_shards": len(stats),
        "total_rows": int(sum(r["rows"] for r in stats)),
        "total_tokens": int(sum(r["tokens"] or 0 for r in stats)),
        "shards": [
            {
                "shard_id": int(r["shard_id"]),
                "rows": int(r["rows"]),
                "tokens": int(r["tokens"] or 0),
                "first_pack": int(r["first_pack"]),
                "last_pack": int(r["last_pack"]),
            }
            for r in stats
        ],
    }
    import json

    # manifest through the Hadoop FileSystem API so the one shipping
    # artifact works against whatever store the shards landed in
    # (file:/, hdfs:/, s3a:/ ...) — the payload is shard-count-sized
    spark = packed.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    out_path = jvm.org.apache.hadoop.fs.Path(path, "_manifest.json")
    fs = out_path.getFileSystem(hconf)
    stream = fs.create(out_path, True)
    try:
        stream.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
    finally:
        stream.close()
    return manifest


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, n_tok, chunk_text): overlapping
    fixed-stride token windows — the chunking step of RAG indexing and
    long-document training prep. Chunk ``i`` starts at token
    ``i*stride + 1`` (1-based) and carries up to ``chunk_tokens`` tokens;
    chunks overlap by ``chunk_tokens - stride``. A document of ``n``
    tokens yields ``1 + ceil((n - chunk_tokens)/stride)`` chunks
    (``n <= chunk_tokens`` — including the zero-token/NULL doc — yields
    exactly one, so every document stays represented downstream).

    Plan: one projection pass — tokenize, explode the chunk-index
    ``sequence`` (integer arithmetic, no float ceil), then ``slice`` /
    ``concat_ws`` per exploded row so the chunk text is built in
    whole-stage codegen. No shuffle at all: chunking is embarrassingly
    parallel and at 100 TB runs at parquet-scan speed; downstream
    consumers (embedding, fingerprinting) see chunk rows already
    co-partitioned with their source split."""
    from ..functions.texttools import tokens

    c, s = int(chunk_tokens), int(stride)
    if s <= 0 or c <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    d = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks"))
    n_chunks = F.expr(f"CASE WHEN n <= {c} THEN 1 ELSE 1 + ((n - {c} + {s} - 1) div {s}) END")
    return (
        d.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * s + 1).alias("start_tok"),
            F.greatest(
                F.least(F.lit(c), F.col("n") - F.col("chunk_idx") * s), F.lit(0)
            ).alias("n_tok"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("chunk_idx") * s + 1, c)
            ).alias("chunk_text"),
        )
    )


def pack_assignments(
    docs: DataFrame,
    *,
    budget: int,
    token_col: str,
    order_col: str = "doc_id",
) -> DataFrame:
    """Adds ``pack_id`` / ``pack_offset`` columns: the context window a
    document's first token lands in when the corpus is concatenated in
    ``order_col`` order and chunked every ``budget`` tokens, and the
    document's token offset inside that window. Documents longer than
    the remaining window simply straddle the boundary — exactly the
    concat-and-chunk semantics of standard pretraining loaders."""
    out = global_exclusive_prefix_sum(docs, [order_col], token_col, "__start")
    return (
        out.withColumn("pack_id", F.expr(f"__start div {int(budget)}"))
        .withColumn("pack_offset", F.col("__start") % int(budget))
        .drop("__start")
    )

"""History + current-state table management on plain Parquet.

Reproduces the reference's storage engines with Spark-native layout:

- **History** (S2) — `ReplicatedMergeTree PARTITION BY toYYYYMMDD(scrape_time)
  ORDER BY (icao24, scrape_time) TTL ...` (schema/schema-local.sql:183-187)
  → Parquet laid out ``scrape_date=<d>/batch_id=<seg>/*.parquet`` +
  `sortWithinPartitions(key, ts)` so row-group min/max stats give the
  same data skipping the sparse primary index gives ClickHouse. The
  layout is DATE-MAJOR: the day is the outer partition (time-range
  pruning + TTL = one directory drop per day, like
  ``ttl_only_drop_parts=1``), and each writing micro-batch owns an inner
  ``batch_id=`` directory so a replayed batch overwrites itself
  (exactly-once, see append_history). Compaction merges a closed day's
  batch directories into one key-sorted file set — the background-merge
  analogue that keeps file counts bounded at a 2 s trigger cadence.
  At 100 TB: date partitions prune time-range queries; the within-file
  sort on (icao24, scrape_time) keeps per-aircraft scans to a few row
  groups.
- **Current state** (S3) — `ReplacingMergeTree(scrape_time) ORDER BY icao24
  TTL 1 HOUR` (schema/schema-local.sql:370-372) → keyed upsert: merge the
  incoming batch with existing state via `latest_per_key`, atomically
  swap. State is bounded by live-key count (~12k aircraft), so this stays
  a small single-digit-MB table regardless of ingest volume. Every
  snapshot is `latest_per_key` output, so it holds exactly ONE row per
  key: the ``*_latest`` views over it are a recency filter alone — no
  second read-time dedup (the ``FINAL`` a ReplacingMergeTree needs
  because its merges are lazy).
- **TTL** (§4) — scheduled partition drops, matching
  `ttl_only_drop_parts=1`: whole `scrape_date=` directories are removed,
  never row-level rewrites.

Delta Lake would supply MERGE/txn log; it is not in this image, so state
commits use a **versioned-directory + pointer-file** scheme (the same
shape as a Delta/Iceberg snapshot commit, minus the JVM txn log):

- each upsert writes a complete new snapshot under ``<path>/v_<uuid>/``,
  then atomically repoints ``<path>/_CURRENT`` (write-temp + rename);
- readers resolve the pointer and scan that snapshot — there is never a
  window where the state directory is absent, and a snapshot a
  registered temp view is still scanning survives until GC;
- non-current snapshots are GC'd only after ``STATE_GC_GRACE_S``
  (readers re-registering views within the grace period never lose
  files);
- concurrent upserts (one IngestPipeline per source, all feeding
  combined/state) are serialized by an ``O_EXCL`` writer lock.

The interface is sink-agnostic — swapping in a Delta-backed
implementation (MERGE INTO + time travel) changes only this module.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.latest import latest_per_key
from .storeio import storeio_for

PARTITION_COL = "scrape_date"
_POINTER = "_CURRENT"
STATE_GC_GRACE_S = 300.0  # keep superseded snapshots this long for readers
_LOCK_TIMEOUT_S = 120.0
_LOCK_HEARTBEAT_S = 30.0  # live holders refresh the lock mtime this often


def with_partition_col(df: DataFrame, ts: str = "scrape_time") -> DataFrame:
    """Day partition key — toYYYYMMDD(scrape_time) (schema-local.sql:184)."""
    return df.withColumn(PARTITION_COL, F.to_date(F.col(ts)))


def append_history(
    df: DataFrame,
    path: str,
    *,
    key: str = "icao24",
    ts: str = "scrape_time",
    batch_id: int | str | None = None,
) -> None:
    """S2: day-partitioned, key-ordered columnar append.

    Layout (date-major): ``<path>/scrape_date=<d>/batch_id=<seg>/``. The
    day stays the OUTER partition — TTL drops and time-range pruning
    touch whole-day directories exactly like MergeTree parts
    (schema/schema-local.sql:186-187) — while each micro-batch owns the
    INNER ``batch_id=`` directories it writes. A batch-keyed write first
    removes any ``batch_id=<seg>`` leftovers from a previous attempt and
    then appends, so a foreachBatch re-delivery (crash anywhere in the
    cascade, including mid-append) converges to exactly one copy of the
    batch — exactly-once history counts with no commit-marker race, even
    when the replay lands in different days than the crashed attempt.
    Ad-hoc batch ingests (``batch_id=None``) get a fresh uuid segment,
    i.e. plain append. ``batch_id`` must be unique per logical batch
    across the table's lifetime — the streaming pipeline scopes Spark's
    per-checkpoint batch numbers with a run id (streaming/pipeline.py),
    so a reset checkpoint restarting at batch 0 can never overwrite an
    earlier run's data. Filters on ``scrape_date`` prune directories as
    before (tests/test_plans.py pins the pruned scan)."""
    seg = f"b{batch_id}" if batch_id is not None else f"adhoc-{uuid.uuid4().hex[:12]}"
    if batch_id is not None:
        # replay overwrite: drop every day's leftovers of this batch before
        # rewriting (handles attempt 1 writing days the replay doesn't)
        io = storeio_for(path)
        for leftover in io.glob(
            os.path.join(path, PARTITION_COL + "=*", f"batch_id={seg}")
        ):
            io.rmtree(leftover)
    (
        with_partition_col(df, ts)
        .withColumn("batch_id", F.lit(seg))
        .sortWithinPartitions(PARTITION_COL, key, ts)
        .write.mode("append")
        .partitionBy(PARTITION_COL, "batch_id")
        .parquet(path)
    )


def _history_layout_groups(path: str) -> list[list[str]] | None:
    """Classify the on-disk history layout. Returns ``None`` when the tree
    is uniform (one ``spark.read.parquet(path)`` works — the fast path),
    else a list of uniform-depth path groups to read separately:

    - flat legacy: ``scrape_date=<d>/*.parquet`` (pre-exactly-once);
    - date-major:  ``scrape_date=<d>/batch_id=<b>/*.parquet`` (current);
    - batch-major: ``batch_id=<b>/scrape_date=<d>/*.parquet`` (interim).

    Mixed trees (partial migrations, a day dir holding both direct files
    and batch subdirs) would make Spark's partition discovery fail with
    'Conflicting directory structures'; grouping by depth and reading
    each group with ``basePath`` sidesteps that."""
    io = storeio_for(path)
    try:
        top = sorted(io.listdir(path))
    except OSError:
        return None  # let spark.read surface the standard missing-path error
    sd_dirs = [e for e in top if e.startswith(PARTITION_COL + "=")]
    bid_dirs = [e for e in top if e.startswith("batch_id=")]
    flat: list[str] = []
    nested: list[str] = []
    for entry in sd_dirs:
        full = os.path.join(path, entry)
        children = io.listdir(full)
        files = [c for c in children if c.endswith(".parquet")]
        subs = [c for c in children if c.startswith("batch_id=")]
        if files:
            flat += [full] if not subs else [os.path.join(full, f) for f in files]
        if subs:
            nested += [full] if not files else [os.path.join(full, s) for s in subs]
    uniform = (
        (flat and not nested and not bid_dirs)
        or (nested and not flat and not bid_dirs)
        or (bid_dirs and not sd_dirs)
    )
    if uniform or not (flat or nested or bid_dirs):
        return None
    groups = [g for g in (flat, nested) if g]
    if bid_dirs:
        groups.append([os.path.join(path, e) for e in bid_dirs])
    return groups


def _reader(spark: SparkSession, schema: T.StructType | None) -> DataFrameReader:
    """A parquet reader; with a known ``schema`` the scan skips the
    footer-reading Spark job that schema inference costs per read."""
    return spark.read if schema is None else spark.read.schema(schema)


def read_history(
    spark: SparkSession,
    path: str,
    *,
    dedupe: bool = False,
    key: str = "icao24",
    ts: str = "scrape_time",
    schema: T.StructType | None = None,
) -> DataFrame:
    """History scan (the ``batch_id`` layout column is dropped — it is a
    sink implementation detail). Batch-keyed overwrite writes make the
    streaming pipeline's replays idempotent (append_history docstring),
    so counts are exact without ``dedupe``; the flag is kept for
    cross-pipeline merges and tables that mixed ad-hoc double-ingests.
    Mixed old/new layouts read correctly (see _history_layout_groups).
    ``schema`` is the stored data schema (partition columns are still
    discovered from the paths); ``None`` infers it."""
    groups = _history_layout_groups(path)
    if groups is None:
        df = _reader(spark, schema).parquet(path)
        if "batch_id" in df.columns:
            df = df.drop("batch_id")
    else:
        df = None
        for g in groups:
            part = _reader(spark, schema).option("basePath", path).parquet(*g)
            if "batch_id" in part.columns:
                part = part.drop("batch_id")
            df = part if df is None else df.unionByName(part)
    if dedupe:
        subset = [c for c in (key, ts, "ingestion_time") if c in df.columns]
        df = df.dropDuplicates(subset)
    return df


def _atomic_swap(src: str, dst: str) -> None:
    """Replace dst dir with src dir; StoreIO.rename is atomic per entry
    (POSIX rename on the default implementation). Used by partition
    compaction (single-writer maintenance job); state commits use the
    snapshot+pointer protocol instead. The displaced dir gets a
    dot-prefixed name so a crash between rename and rmtree leaves only
    entries Spark's partition discovery and our listers ignore."""
    io = storeio_for(dst)
    tmp_old = os.path.join(
        os.path.dirname(dst), f".{os.path.basename(dst)}.old.{uuid.uuid4().hex}"
    )
    if io.exists(dst):
        io.rename(dst, tmp_old)
    io.rename(src, dst)
    if io.exists(tmp_old):
        io.rmtree(tmp_old)


class _WriterLock:
    """Single-writer serialization for state commits: all four per-source
    IngestPipelines upsert the shared combined/state table, so commits
    must not interleave (ADVICE r1: concurrent read-merge-overwrite can
    drop prior state). ``StoreIO.create_exclusive`` admits exactly one
    holder (``O_CREAT|O_EXCL``-equivalent — atomic on POSIX and on
    object-store-backed FUSE mounts); stale locks (crashed writer) are
    broken after the timeout.

    Takeover rule: a contender that has waited out ``timeout_s`` breaks
    the lock ONLY if the lock file is older than
    ``max(10 * timeout_s, 300 s)`` — i.e. presumed dead, not merely
    slow; otherwise it raises ``TimeoutError``. A live holder is never
    "merely slow" for long: a daemon HEARTBEAT thread refreshes the
    lock's mtime every ``_LOCK_HEARTBEAT_S`` while held, so a
    long-running compaction keeps its lease no matter how long the job
    takes, and the staleness age only accrues on a genuinely dead
    holder. The break itself is a CONDITIONAL delete
    (``StoreIO.unlink_if``): the lock is removed only if its stat
    token still matches the one whose staleness age was measured, so
    a fresh lock created by a faster contender — even one that slips
    in between the staleness check and the break (the r13-advice
    TOCTOU) — is never stolen. Implementations with a native
    compare-and-swap delete make this one atomic step; POSIX
    approximates it with a claim-rename + token verify +
    non-clobbering restore (see LocalStoreIO.unlink_if for the
    microsecond residual window, which is strictly narrower than the
    unconditional claim it replaces). Lock content is
    holder-unique (pid + uuid) so operators can attribute a stuck
    lock. Also serves as the store-level MAINTENANCE lease
    (``CurationIngest.maintenance_lease``): two concurrent maintainers
    on one base_dir would stage rival folds of the same segments and
    the loser's work is wasted, so the second one fails loudly
    instead."""

    def __init__(
        self,
        path: str,
        timeout_s: float = _LOCK_TIMEOUT_S,
        *,
        name: str = ".writer_lock",
    ):
        self._io = storeio_for(path)
        self.lock_path = os.path.join(path, name)
        self.timeout_s = timeout_s
        self._hb_stop = None

    def _heartbeat(self, stop) -> None:
        while not stop.wait(_LOCK_HEARTBEAT_S):
            try:
                self._io.touch(self.lock_path)
            except OSError:
                return  # lock broken under us; stop quietly

    def __enter__(self):
        import threading

        deadline = time.monotonic() + self.timeout_s
        while True:
            won, _ = self._io.create_exclusive(
                self.lock_path, f"{os.getpid()}|{uuid.uuid4().hex}"
            )
            if won:
                # age-gated GC of crashed breakers' claim leftovers
                # (r14 advice; see storeio.sweep_stale_claims) — one
                # listdir per acquisition, noise next to the batch
                from .storeio import sweep_stale_claims

                sweep_stale_claims(
                    self.lock_path,
                    max_age_s=max(self.timeout_s * 10, 300.0),
                    io=self._io,
                )
                self._hb_stop = threading.Event()
                threading.Thread(
                    target=self._heartbeat,
                    args=(self._hb_stop,),
                    daemon=True,
                    name="writer-lock-heartbeat",
                ).start()
                return self
            if time.monotonic() > deadline:
                try:  # stale lock from a crashed writer — break it
                    token = self._io.stat_token(self.lock_path)
                    age = time.time() - self._io.mtime(self.lock_path)
                except OSError:
                    continue  # vanished: retry the create
                if age > max(self.timeout_s * 10, 300.0):
                    # conditional delete: removes the lock only if it
                    # is STILL the exact file whose age we measured —
                    # a fresh lock from any faster contender survives,
                    # including one created between the staleness
                    # check and this call (r13-advice TOCTOU fix).
                    # False = vanished/replaced/raced: just retry.
                    self._io.unlink_if(self.lock_path, token)
                    continue
                raise TimeoutError(f"writer lock held: {self.lock_path}")
            time.sleep(0.05)

    def __exit__(self, *exc):
        if self._hb_stop is not None:
            self._hb_stop.set()
            self._hb_stop = None
        try:
            self._io.unlink(self.lock_path)
        except OSError:
            pass
        return False


def _current_version(path: str) -> str | None:
    try:
        v = storeio_for(path).read_text(os.path.join(path, _POINTER)).strip()
        return v or None
    except OSError:
        return None


def _current_snapshot_dir(path: str) -> str | None:
    v = _current_version(path)
    return os.path.join(path, v) if v else None


def _commit_pointer(path: str, version: str) -> None:
    # atomic publish: readers resolve the old snapshot or the new one
    storeio_for(path).write_atomic(os.path.join(path, _POINTER), version)


def _gc_snapshots(path: str, keep: str, grace_s: float) -> None:
    """Remove superseded snapshots older than the grace period — readers
    holding the old pointer (registered temp views) keep working until
    then; after an upsert, long-lived views should be re-registered."""
    io = storeio_for(path)
    cutoff = time.time() - grace_s
    for entry in io.listdir(path):
        if not entry.startswith("v_") or entry == keep:
            continue
        full = os.path.join(path, entry)
        try:
            if io.mtime(full) < cutoff:
                io.rmtree(full)
        except OSError:
            pass  # another GC won the race


def upsert_state(
    batch: DataFrame,
    path: str,
    *,
    key: str = "icao24",
    version: str = "scrape_time",
    ttl: str | None = "1 hour",
    now: datetime | None = None,
    gc_grace_s: float = STATE_GC_GRACE_S,
) -> None:
    """S3: ReplacingMergeTree semantics — newest `version` per `key` wins,
    an older late arrival never displaces newer state (SURVEY §2.9 ST2);
    keys whose state is older than `ttl` expire (schema-local.sql:372).

    Equivalent to Delta ``MERGE WHEN MATCHED AND b.v >= s.v THEN UPDATE``.
    Idempotent: re-applying the same batch is a no-op. Commits are
    versioned-snapshot + pointer swaps under a writer lock (module
    docstring) — readers never observe a missing or half-written state
    dir, and concurrent per-source pipelines serialize instead of
    clobbering each other.

    Invariant: the committed snapshot is `latest_per_key` output, one row
    per `key`, so readers of the ``*_latest`` view only filter it by
    recency (streaming/pipeline.py ``IngestPipeline.latest``).

    The current snapshot is read with ``batch.schema`` (no inference
    job). On schema drift, a batch column the stored snapshot lacks reads
    as null for the stored rows, and a stored column the batch lacks is
    dropped; before, ``unionByName`` raised on either.
    """
    spark = batch.sparkSession
    storeio_for(path).makedirs(path)
    with _WriterLock(path):
        cur = _current_snapshot_dir(path)
        candidates = batch
        if cur is not None:
            candidates = spark.read.schema(batch.schema).parquet(cur).unionByName(batch)
        merged = latest_per_key(candidates, key=key, version=version)
        if ttl is not None:
            now_col = F.lit(now).cast("timestamp") if now else F.current_timestamp()
            merged = merged.filter(F.col(version) > now_col - F.expr(f"INTERVAL {ttl}"))
        new_version = "v_" + uuid.uuid4().hex
        snap = os.path.join(path, new_version)
        # state is bounded by live-key count — coalesce to avoid file sprawl
        merged.coalesce(4).write.mode("overwrite").parquet(snap)
        _commit_pointer(path, new_version)
        _gc_snapshots(path, keep=new_version, grace_s=gc_grace_s)


def read_state(
    spark: SparkSession, path: str, *, schema: T.StructType | None = None
) -> DataFrame:
    """Resolve the current snapshot pointer and scan it — one row per key
    (upsert_state). Falls back to reading `path` directly for
    pre-versioned layouts (and to surface the standard missing-table
    error when nothing was ever committed). ``schema`` is the stored
    schema, which spares the inference job; ``None`` infers it."""
    snap = _current_snapshot_dir(path)
    return _reader(spark, schema).parquet(snap if snap else path)


def expire_history(
    spark: SparkSession, path: str, *, ttl_days: int, now: date | None = None
) -> list[str]:
    """TTL maintenance: drop whole day-partitions older than the retention
    window — `TTL scrape_time + INTERVAL n ... SETTINGS ttl_only_drop_parts=1`
    (schema/schema-local.sql:186-187). Never rewrites surviving data.

    Date-major layout makes this one ``rmtree`` per expired day no matter
    how many batch directories the day accumulated. Interim batch-major
    trees (``batch_id=*/scrape_date=*``) are walked too, pruning batch
    dirs emptied by the expiry."""
    io = storeio_for(path)
    cutoff = (now or datetime.now(timezone.utc).date()) - timedelta(days=ttl_days)
    dropped = []
    if not io.isdir(path):
        return dropped
    for entry in sorted(io.listdir(path)):
        full = os.path.join(path, entry)
        if entry.startswith(PARTITION_COL + "="):
            if date.fromisoformat(entry.split("=", 1)[1]) < cutoff:
                io.rmtree(full)
                dropped.append(entry)
        elif entry.startswith("batch_id=") and io.isdir(full):
            for sub in sorted(io.listdir(full)):
                if not sub.startswith(PARTITION_COL + "="):
                    continue
                if date.fromisoformat(sub.split("=", 1)[1]) < cutoff:
                    io.rmtree(os.path.join(full, sub))
                    dropped.append(os.path.join(entry, sub))
            if not any(e.startswith(PARTITION_COL + "=") for e in io.listdir(full)):
                io.rmtree(full)
    return dropped


def compact_partition(spark: SparkSession, path: str, partition: str, *, key: str = "icao24", ts: str = "scrape_time", target_files: int = 1) -> None:
    """OPTIMIZE analogue: merge ALL of one day-partition's per-batch
    directories (and any legacy flat files) into `target_files` key-sorted
    files under a single ``batch_id=compact-*`` directory, then atomically
    swap the day directory (ClickHouse background merges keep parts sorted
    and few; we do it as an explicit maintenance call).

    This bounds the file-listing cost of the exactly-once layout: a 2 s
    trigger cadence creates ~43k batch dirs/day, and compacting each
    closed day collapses them to one. Run on CLOSED (past) days only —
    the swap races a concurrent writer appending new batch dirs to the
    same day. Reader caveat (documented, unlike the generational
    stores' r14 grace window): the swap renames the day directory in
    place, so a query mid-scan of exactly that closed day can fail
    transiently and should retry — the generational stores avoid this
    with pointer indirection, which the history table deliberately
    lacks (its readers resolve plain ``scrape_date=`` paths so
    partition pruning stays Spark-native).

    CAS-namespace caveat: this is the one directory rename left
    outside the publish seam, because the compaction READS the old day
    while writing the new (a lazy scan — in-place staging would delete
    its own input). Under a CAS store the swap therefore pays one
    catalog-subtree copy per CLOSED day (``CASBackend.copy_object``,
    server-side) — maintenance cadence, never the per-batch path,
    which commits rename-free via ``StoreIO.begin_publish``."""
    part_path = os.path.join(path, partition)
    if not storeio_for(path).isdir(part_path):
        raise FileNotFoundError(part_path)
    day = partition.split("=", 1)[1]
    df = (
        read_history(spark, path)
        .filter(F.col(PARTITION_COL) == day)
        .drop(PARTITION_COL)
    )
    # dot-prefixed: invisible to partition discovery if a crash leaves it
    staging = os.path.join(path, f".compact-staging.{uuid.uuid4().hex}")
    out = os.path.join(staging, f"batch_id=compact-{uuid.uuid4().hex[:12]}")
    df.repartition(target_files).sortWithinPartitions(key, ts).write.mode(
        "overwrite"
    ).parquet(out)
    _atomic_swap(staging, part_path)

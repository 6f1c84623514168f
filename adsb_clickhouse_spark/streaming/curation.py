"""Streaming document curation: the batch curation funnel
(operators/curation.py) run as a micro-batch ingest with CROSS-BATCH
exact dedup against an accumulated fingerprint store.

A batch curate_documents() call can only dedup within what it sees; a
training-data ingest keeps receiving the same boilerplate forever, so
the streaming form must remember every fingerprint it has ever kept.
Per micro-batch:

    scrub → policy filter (quality / language / PII) → within-batch
    exact dedup (keep lowest doc_id per fingerprint) → anti-join the
    fingerprint STORE (docs seen in any earlier batch) → append
    survivors to the curated table + their fingerprints to the store

Delivery semantics follow the MV cascade (streaming/pipeline.py): both
appends are batch-keyed ``batch_id=`` segment writes, a batch is
COMMITTED by an atomic marker file written after both appends, and a
replayed batch either no-ops (marker present — the previous attempt
finished both writes) or first removes its own leftover segments and
rewrites — so a crash anywhere in the body (including between the two
appends) converges to exactly one copy of the batch in BOTH tables.
The marker, not the segment, is the commit record: it survives
compaction folding the segment away, so a redelivery racing the
checkpoint commit can never clear-and-suppress its own data.

Store lifecycle (the at-scale half):

- ``compact_fingerprints`` folds committed ``batch_id=`` segments into
  a fingerprint-BUCKETED catalog table (plans/bucketing.write_bucketed)
  behind a ``_STORE`` pointer file — the per-batch anti-join then reads
  matching buckets directly (zero Exchange on the store side; only the
  small batch shuffles) instead of re-listing and re-shuffling an
  ever-growing pile of tiny segment files. Generational: each
  compaction writes a fresh table, repoints, deletes the folded
  segments, drops the old generation — every crash window leaves the
  store a superset of the truth, which a left-anti join reads
  identically, and a re-run converges it.
- ``compact_curated`` is the periodic near-dedup merge over the
  curated table: MinHash pairs → connected components → keep the
  lowest doc_id per component, survivors rewritten into ONE
  ``batch_id=nearcompact-*`` segment whose ``_FOLDED`` manifest lists
  the segments it replaces. Readers resolve manifests, so the fold is
  exactly-once the instant the segment's atomic rename lands; deleting
  the folded directories is pure GC that can lag or crash harmlessly.
  Dropped docs' exact fingerprints stay in the store on purpose —
  byte-identical copies of a pruned near-dup must remain suppressed.

With ``media_dedup=True`` a binary payload column becomes a
curation citizen: its md5 — 'm|'-prefixed into the SAME fingerprint
store — drives exact media dedup within and across batches, the
payload rides along into the curated table, and ``compact_curated``
adds perceptual-hash near-dup edges to the component graph, so a
perturbed copy of an already-kept image is collapsed on the same
lambda split as text (exact = per batch, near = periodic compaction).

With ``vector_index=True`` each batch's survivors' embeddings
become a name-keyed segment of a stored IVF vector index
(operators/vecindex.py) under ``base_dir/vector_index`` — curated
docs are kNN-searchable as they land, with the same generational
append/compact/GC lifecycle as the text index (compaction re-learns
the coarse quantizer from the accumulated corpus).

With ``media_near_dedup=True`` perceptual near-copies fall AT
INGEST instead of waiting for compaction: each batch's kept media
contribute (bkey = band·2^width + band-value, phash) rows to a stored
band index (``phash_bands/``, batch-keyed, replay-overwritten); a later
batch's hashes probe it with one equi-join on the single bkey long +
codegen ``bit_count(XOR) <= max_hamming`` verify — the fingerprint
store's scale shape applied to the banded-LSH key. Within a batch,
pairs from the banded self-join drop every larger id. The probe side
stays batch-sized; ``compact_phash_bands`` (CLI ``--compact-bands``)
folds segments into a bkey-BUCKETED table (probe co-locates without
re-shuffling the store) and applies the ``media_max_band_freq``
hot-band valve as one bounded aggregate at fold time. The periodic
``compact_curated`` near-dedup remains the principled
connected-components pass over the accumulated corpus; the band index
is the bounded fast path for "new copy of already-kept media".

With ``text_near_dedup=True`` the same band-store pattern covers
TEXT: within a batch, exact-Jaccard-verified MinHash-LSH pairs collapse
to the smallest id; across batches, kept docs' (bkey = md5_long(band ‖
band_key), signature) rows accrete into ``text_bands/`` and later
batches probe with one bkey equi-join verified by SIGNATURE AGREEMENT
(#equal minhash positions / k ≥ threshold — the MinHash Jaccard
estimate), so the probe never touches corpus text and stays
batch-bounded. The periodic ``compact_curated`` pass remains the
exact-Jaccard authority over the accumulated corpus;
``compact_text_bands`` folds the band segments into a bkey-bucketed
table (also under CLI ``--compact-bands``).

With ``host_col``/``host_links_col`` the domain-reputation prior
becomes a streaming dimension: each batch's host link edges accrete
into ``base_dir/host_edges`` (batch-keyed, replay-overwritten), the
periodic ``recompute_host_ranks`` maintain job folds them into a
generational (host, PageRank[, TrustRank]) table behind the usual
pointer-swap discipline, and every subsequent batch broadcast-joins
the CURRENT generation to drop spam-component / low-rank hosts —
rank-as-dimension refreshed periodically, never per-batch propagation
(PageRank is a corpus-sized job; it lives on the batch side of the
lambda split with near-dedup compaction).

With ``text_index=True`` each batch's survivors also become a
name-keyed segment of a stored BM25 inverted index
(operators/search.py) under ``base_dir/text_index`` — the curated
corpus stays searchable as it accretes. The index bootstraps as an
EMPTY stats-only generation so every batch write is an idempotent
segment append (a data-bearing init would double-count its batch if
the init landed but the commit marker didn't); ``compact_text_index``
is the matching maintenance job, same transitive-manifest discipline.

Observability: every committed batch writes ONE stats row to
``ingest_log/`` — rows in, drops per gate (policy, host, exact
text/media, store dup, near-dup text/media split batch/store),
admitted, store segment tallies — from ``Observation`` taps that ride
the jobs that already execute the funnel (zero extra passes; a tap
re-referenced by a downstream self-join fires exactly once). The row
lives inside the batch's commit envelope (cleared on replay, sealed by
the marker), so redelivery leaves exactly one row; ``ingest_report`` /
the ``ingest-report`` CLI aggregate it. This is the alarm surface for
the failure mode a dedup memory cannot surface itself: a store that
silently admits (or drops) everything looks identical to a healthy one
from the curated table alone.

The batch body is two declared lists and one loop over each. ``_GATES``
holds the funnel: each gate is a name, an enable predicate over the
config and the batch, and a step — a row gate maps the survivors to
fewer survivors (scrub, policy, host, exact text/media, store dup), a
near gate returns drop-sets the loop anti-joins on ``doc_id``. The
loop taps and wall-marks every gate the same way, and the stats row's
schema is derived from the same list. Near gates build their drop-sets
from ``base``, one eager ``localCheckpoint`` of the survivors taken
before the first of them: a near-dedup join references the frame it
drops from, so without the checkpoint the plan tree doubled per stage
and driver-side analysis grew exponentially (146 s for a 20-doc batch
with text and media near-dedup on). Deriving every drop-set from one
frame is exact because band and probe rows are per-row functions of one
doc and dropping an already-dropped id is a no-op; the media in-batch
pairs are restricted to pairs whose smaller id survived the earlier
near gates. ``phash_near_dup``'s ``media_max_band_freq`` counts band
frequency over its input, so with that valve set after text near-dedup
the media gates re-base on a checkpoint of the text survivors. Lost
checkpoint blocks kill the batch job, which the commit-marker replay
converges.

The survivors are materialized by a second eager ``localCheckpoint``,
not ``persist()``: the sinks write into paths the survivor plan reads
(fingerprint and band stores), and CacheManager's recacheByPath would
recompute a cached plan with a listing that includes the segment just
written, so the batch would match its own band rows and every later
sink would write zero rows. Lineage truncation leaves no path reference
to recache (pinned by
test_band_store_append_does_not_recache_away_fingerprints and the
all-stores soak). ``_SINKS`` then lists the per-batch segment writes
(curated rows, fingerprints, band stores, text and vector index
segments, host edges); ``pipeline.run_sinks``, the runner the ADS-B
cascade shares, runs them concurrently, and the commit marker follows
only when every one succeeded.

Scale shape: the anti-join shuffles on the 16-byte fingerprint — the
store side is the accumulated KEPT set (post-dedup, so it grows with
unique content, not ingest volume) and after compaction is bucketed on
fingerprint, so the join co-locates without re-shuffling the store.
The BASE body is projections + one groupBy + one anti-join with no
Python on the hot path; the optional near-dedup stages (below) each add
one bounded piece — an Arrow hashing pass over the BATCH's payloads
(media) or a JVM-side minhash over the batch's texts, plus one
bkey-keyed equi-join per store part — and the optional host gate adds
one broadcast dimension join. GENERAL banding against the unbounded
historical corpus (all-pairs within history) stays the periodic BATCH
compaction — the band stores only answer the bounded question "is this
batch row a near-copy of something already kept", which is an equi-join
probe, not a corpus self-join.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from functools import partial, reduce
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.texttools import md5_long
from ..operators.curation import SPLIT_SALT, _langid_enrich, quality_signals
from ..operators.dedup import minhash_band_rows, minhash_lsh_pairs
from ..operators.graph import host_edges
from ..operators.multimodal import perceptual_hash, phash_band_keys, phash_near_dup
from ..operators.scrub import pii_counts, pii_redact
from ..operators.search import append_text_index, init_text_index
from ..operators.similarity import hashed_text_embeddings
from ..operators.vecindex import (
    _gen_name as _vec_gen,
    append_vector_index,
    init_vector_index,
)
from ..plans.genstore import enforce_law
from ..plans.storeio import storeio_for
from .pipeline import _checkpoint_run_id, run_sinks

_STORE_POINTER = "_STORE"
_COMMITS_DIR = "_commits"
# marker-file retention: folded marker names live one-per-line in this
# manifest inside the commits dir (see CurationIngest.compact_ingest_log)
_COMMITTED_MANIFEST = "_COMMITTED"
_FOLDED_MANIFEST = "_FOLDED"

def _clear_segment(path: str, seg: str) -> None:
    io = storeio_for(path)
    io.rmtree(os.path.join(path, f"batch_id={seg}"))


def _append_segment(df: DataFrame, path: str, seg: str) -> None:
    """Append ``df`` as the ``batch_id=<seg>`` segment of a batch-keyed store."""
    (
        df.withColumn("batch_id", F.lit(seg))
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _seg_dirs(path: str) -> list[str]:
    io = storeio_for(path)
    if not io.isdir(path):
        return []
    return sorted(e for e in io.listdir(path) if e.startswith("batch_id="))


def _seg_name(entry: str) -> str:
    return entry.split("=", 1)[1]


def _live_seg_dirs(path: str) -> list[str]:
    """``batch_id=`` entries not folded into the pointed generation —
    the one live-segment resolution every ``batch_id=``-layout consumer
    shares (reader, compactor, segment counter), so a manifest-format
    change lands in exactly one place."""
    from ..plans.genstore import folded_set, gen_name

    folded = folded_set(path, gen_name(path))
    return [e for e in _seg_dirs(path) if _seg_name(e) not in folded]


def _has_parquet(path: str) -> bool:
    """True iff the directory tree holds at least one parquet file —
    guards every read of a possibly-empty segment write (a zero-row
    partitionBy write leaves only _SUCCESS, and reading that throws
    UNABLE_TO_INFER_SCHEMA)."""
    return storeio_for(path).has_files(path, ".parquet")


def stored_band_law_params(path: str, *, marker: str | None = None) -> dict[str, int]:
    """Parse a band store's ``_BAND_LAW`` marker back into the numeric
    parameters that produced it (``{}`` when the store has no marker
    yet). The law strings are pipe-delimited ``key=int`` pairs derived
    from the CurationIngest constructor parameters (``_text_band_law`` /
    ``_phash_band_law``), so the marker is the authoritative record of
    the key space the accumulated index was built under — maintenance
    jobs read it instead of trusting their own defaults (r11 advice: a
    corpus ingested under k=32/b=8 must not be compacted under the
    constructor's k=16/b=4)."""
    from ..plans.genstore import LAW_MARKER

    try:
        law = storeio_for(path).read_text(
            os.path.join(path, marker or LAW_MARKER)
        ).strip()
    except OSError:
        return {}
    out: dict[str, int] = {}
    for part in law.split("|")[1:]:
        key, _, val = part.partition("=")
        if val.isdigit():
            out[key] = int(val)
    return out


EMBED_LAW_MARKER = "_EMBED_LAW"


def stored_embed_law_params(vector_index_path: str) -> dict[str, int]:
    """The recorded embedding law of a vector index whose vectors came
    from the text-fallback embedder: ``{"dim": d, "ngram_lo": lo,
    "ngram_hi": hi}``, or ``{}`` for an index that has never fallback-
    embedded (external embeddings carry their own law). Maintenance and
    probe tooling read this instead of trusting constructor defaults —
    a store embedded under ngram=(1,2) probed or appended under the
    default unigram law would silently degrade recall."""
    return stored_band_law_params(vector_index_path, marker=EMBED_LAW_MARKER)


def _free_local_checkpoint(df: DataFrame) -> None:
    """Eagerly free a localCheckpoint'ed frame's cached blocks.

    ``Dataset.unpersist()`` is a CacheManager lookup, and an eager
    localCheckpoint's blocks are RDD-level persisted — that call is a
    no-op (measured: the persistent-RDD count doesn't move). The blocks
    belong to the RDD wrapped by the plan's ``LogicalRDD`` node;
    unpersisting THAT frees them at batch end instead of whenever the
    ContextCleaner gets around to GC'ing the unreferenced RDD — the
    difference between bounded and unbounded block-manager growth in a
    long-lived driver loop. Best-effort by design: if the
    plan-node shape ever shifts, ContextCleaner GC still collects the
    blocks (correct, just lazy)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


@dataclass
class _Batch:
    """What the gates and sinks of one ``process_batch`` call read."""

    spark: SparkSession
    docs: DataFrame
    seg: str
    host_on: bool
    media_on: bool
    media_bands: bool
    ranks: DataFrame | None  # the host-rank generation, None = no host gate
    base: DataFrame | None = None  # the valve checkpoint near gates read
    drops: list = field(default_factory=list)  # drop-sets applied since base
    fresh: DataFrame | None = None  # the checkpointed survivors sinks read


@dataclass(frozen=True)
class _Gate:
    """One funnel gate. ``step`` is ``(ing, batch, frame) -> frame``; for
    a ``near`` gate it is ``(ing, batch) -> [drop-set, ...]`` over
    ``batch.base``. ``survivors(ing)`` true: the drop-sets must be built
    over the current survivors rather than ``base``."""

    name: str
    enabled: Callable[..., bool]
    step: Callable
    near: bool = False
    survivors: Callable[..., bool] = lambda ing: False


class MaintenanceLease:
    """The token ``CurationIngest.maintenance_lease()`` yields: a
    context manager over the store's ``.maintain_lock`` writer lock
    whose entered instance doubles as proof-of-lease for the
    maintenance methods' ``lease=`` parameter.
    ``held`` is True only inside the ``with`` block — a token that
    escaped its block fails the check loudly instead of vouching for
    a lock that was already released."""

    def __init__(self, lock) -> None:
        self._lock = lock
        self.held = False

    @property
    def lock_path(self) -> str:
        return self._lock.lock_path

    def __enter__(self) -> "MaintenanceLease":
        self._lock.__enter__()
        self.held = True
        return self

    def __exit__(self, *exc):
        self.held = False
        return self._lock.__exit__(*exc)


class CurationIngest:
    """Micro-batch curation funnel with a persistent dedup memory."""

    def __init__(
        self,
        base_dir: str,
        *,
        min_quality: float = 0.0,
        keep_langs: tuple[str, ...] | None = None,
        drop_pii_docs: bool = False,
        run_id: str | None = None,
        assign_splits: bool = False,
        text_index: bool = False,
        text_index_buckets: int = 64,
        media_dedup: bool = False,
        media_near_dedup: bool = False,
        text_near_dedup: bool = False,
        text_dedup_threshold: float = 0.5,
        text_minhash_k: int = 16,
        text_bands: int = 4,
        text_shingle_w: int = 3,
        text_max_band_freq: int | None = None,
        media_col: str = "payload",
        media_backend=None,
        media_max_hamming: int = 3,
        media_bands: int = 4,
        media_max_band_freq: int | None = None,
        vector_index: bool = False,
        vec_col: str = "embedding",
        vector_n_lists: int = 16,
        embed_dim: int | None = None,
        embed_ngram=1,
        host_col: str | None = None,
        host_links_col: str | None = None,
        host_trust_seeds: list | None = None,
        host_rank_iterations: int = 5,
        host_min_rank_pct: float | None = None,
        parallel_appends: bool = True,
        # lease discipline for the maintenance jobs: False warns on a
        # lease-less maintain against a leased store (ad-hoc /
        # notebook-friendly); True raises. The curate-maintain CLI runs
        # under True — it holds the lease anyway, so strictness is free
        # there.
        strict_lease: bool = False,
    ):
        # the commit-metadata seam (plans/storeio.py): resolves the
        # POSIX implementation for plain paths and FAILS LOUDLY here —
        # at construction, before any batch — for s3://...-style base
        # dirs whose namespaces lack the atomic primitives the commit
        # protocol (markers, pointers, law bootstrap) depends on
        self.base_dir = base_dir
        self._io = storeio_for(base_dir)
        self.curated_path = os.path.join(base_dir, "curated")
        self.fps_path = os.path.join(base_dir, "fingerprints")
        self.commits_path = os.path.join(base_dir, _COMMITS_DIR)
        self.index_path = os.path.join(base_dir, "text_index")
        self.min_quality = min_quality
        self.keep_langs = keep_langs
        self.drop_pii_docs = drop_pii_docs
        self.run_id = run_id
        self.strict_lease = strict_lease
        self.assign_splits = assign_splits
        self.text_index = text_index
        self.text_index_buckets = text_index_buckets
        self.media_dedup = media_dedup
        self.media_near_dedup = media_near_dedup
        self.phash_bands_path = os.path.join(base_dir, "phash_bands")
        self.text_near_dedup = text_near_dedup
        self.text_dedup_threshold = text_dedup_threshold
        if text_minhash_k % text_bands != 0:
            raise ValueError(
                f"text_minhash_k={text_minhash_k} must be divisible by "
                f"text_bands={text_bands} (r = k/bands rows per band)"
            )
        self.text_minhash_k = int(text_minhash_k)
        self.text_bands = int(text_bands)
        self.text_shingle_w = int(text_shingle_w)
        self.text_max_band_freq = text_max_band_freq
        self.text_bands_path = os.path.join(base_dir, "text_bands")
        self.media_col = media_col
        self.media_backend = media_backend
        self.media_max_hamming = media_max_hamming
        self.media_bands = media_bands
        self.media_max_band_freq = media_max_band_freq
        self.vector_index = vector_index
        self.vec_col = vec_col
        self.vector_n_lists = vector_n_lists
        self.embed_dim = embed_dim
        # 1 (frozen unigram law) or (1, 2): bigram features for
        # word-order-sensitive SemDeDup/kNN on template-heavy corpora
        # (see hashed_text_embeddings) — part of the index's embedding
        # law, so change it only with a store rebuild
        self.embed_ngram = embed_ngram
        self.vector_index_path = os.path.join(base_dir, "vector_index")
        self.host_col = host_col
        self.host_links_col = host_links_col
        self.host_trust_seeds = host_trust_seeds
        self.host_rank_iterations = host_rank_iterations
        self.host_min_rank_pct = host_min_rank_pct
        self.host_edges_path = os.path.join(base_dir, "host_edges")
        self.host_ranks_path = os.path.join(base_dir, "host_ranks")
        # run the batch's sinks from concurrent driver threads
        # (pipeline.run_sinks); False runs them in order, the reference
        # of the concurrency parity test
        self.parallel_appends = parallel_appends
        self.ingest_log_path = os.path.join(base_dir, "ingest_log")
        # per-stage wall clock of the LAST process_batch call, stage
        # name -> seconds (see _mark in process_batch); the floor
        # benchmark and ops dashboards read this
        self.last_stage_wall: dict[str, float] = {}
        # (n_buckets, positional) of the text index, read once per
        # ingest object (immutable store law — see append_text_index)
        self._text_index_law: tuple[int, bool] | None = None
        # vector-index centroids cached per generation (immutable
        # within one — see append_vector_index's centroid_cache)
        self._vec_centroid_cache: dict = {}
        # optional plan probe: a callable(stage_name, DataFrame) invoked
        # at every funnel stage boundary of process_batch — the plan-
        # fingerprint machinery hooks here (bench.py
        # funnel_fingerprints) so the per-stage physical plans the last
        # three rounds' real bugs lived in (exponential analysis,
        # recacheByPath loss, AQE tap pruning) are regression-diffed
        # like the registry rows. None = zero overhead.
        self.plan_probe = None

    def _seg(self, batch_id: int | None) -> str:
        if batch_id is None:
            return f"adhoc-{uuid.uuid4().hex[:12]}"
        return f"b{self.run_id}-{batch_id}" if self.run_id else f"b{batch_id}"

    # -- commit markers ----------------------------------------------------

    def _marker(self, seg: str) -> str:
        return os.path.join(self.commits_path, seg)

    def _committed_manifest_set(self) -> set:
        """Marker names folded into ``_commits/_COMMITTED`` by marker
        retention (see ``compact_ingest_log``) — semantically identical
        to one marker file per line. Cached by the file's stat token
        ((mtime_ns, size), not a float mtime: two folds inside one
        coarse-granularity timestamp tick could otherwise leave a
        reader serving a stale set — r12 advice); the manifest changes
        only under maintenance, but ``_is_committed`` runs per batch."""
        mpath = os.path.join(self.commits_path, _COMMITTED_MANIFEST)
        try:
            token = self._io.stat_token(mpath)
        except OSError:
            return set()
        cached = getattr(self, "_committed_manifest_cache", None)
        if cached is not None and cached[0] == token:
            return cached[1]
        names = {
            line.strip()
            for line in self._io.read_text(mpath).splitlines()
            if line.strip()
        }
        self._committed_manifest_cache = (token, names)
        return names

    def _is_committed(self, seg: str) -> bool:
        return (
            self._io.exists(self._marker(seg))
            or seg in self._committed_manifest_set()
        )

    def _write_marker(self, seg: str) -> None:
        self._io.makedirs(self.commits_path)
        self._io.write_atomic(self._marker(seg), seg)  # atomic publish

    def compact_markers(self) -> int:
        """Fold per-batch commit-marker FILES into the ``_COMMITTED``
        manifest (one name per line) — marker retention. The markers
        are load-bearing for replay idempotence (an uncommitted
        redelivery clears-and-rewrites its segment; a committed one
        must no-op), so they can never be deleted — but a long-lived
        stream accreting one inode per batch forever, with
        ``ingest_report`` listing the whole directory each call, is the
        exact growth pattern the ingest_log retention fixed (r12
        review). Manifest-write then unlink: a crash between the two
        leaves a marker both in the manifest and on disk — harmless,
        the next fold re-unions. Returns the number folded."""
        if not self._io.isdir(self.commits_path):
            return 0
        # GC stale marker tmp files (a crashed _write_marker's leftover —
        # same leak class as .fold-staging). Age-gated: a young tmp may
        # belong to an in-flight _write_marker racing this maintain;
        # deleting it would fail that batch's atomic publish (replay
        # converges it, but don't cause the crash we're cleaning up)
        import time as _t

        for e in self._io.listdir(self.commits_path):
            if ".tmp." in e:
                p = os.path.join(self.commits_path, e)
                try:
                    if _t.time() - self._io.mtime(p) > 3600:
                        self._io.unlink(p)
                except OSError:
                    pass
        files = [
            e
            for e in self._io.listdir(self.commits_path)
            if e != _COMMITTED_MANIFEST and ".tmp." not in e
        ]
        if not files:
            return 0
        names = self._committed_manifest_set() | set(files)
        mpath = os.path.join(self.commits_path, _COMMITTED_MANIFEST)
        # atomic publish: readers see the old manifest or the new, never half
        self._io.write_atomic(mpath, "\n".join(sorted(names)) + "\n")
        for e in files:
            try:
                self._io.unlink(os.path.join(self.commits_path, e))
            except OSError:
                pass
        return len(files)

    # -- the funnel body (used by both batch and streaming) ---------------

    def process_batch(self, docs: DataFrame, batch_id: int | None = None) -> None:
        """One micro-batch: the enabled ``_GATES`` in order, an eager
        ``localCheckpoint`` of the survivors, the enabled ``_SINKS``
        through ``pipeline.run_sinks``, the stats row, then the commit
        marker. The module docstring describes the gate loop and its
        valve checkpoints."""
        seg = self._seg(batch_id)
        if batch_id is not None and self._is_committed(seg):
            # the previous attempt finished every sink; a rewrite would be
            # suppressed by its own fingerprints once compaction folded
            # the segment, so redelivery is a no-op
            self.last_stage_wall = {}
            return
        # replay safety first: a crashed attempt's fingerprints must not
        # suppress this replay's own rows at the store anti-join
        for path in (
            self.curated_path, self.fps_path, self.host_edges_path,
            self.phash_bands_path, self.text_bands_path, self.ingest_log_path,
        ):
            _clear_segment(path, seg)

        taps: list[tuple[str, Observation]] = []
        ckpts: list[DataFrame] = []  # freed in the finally below
        walls: dict[str, float] = {}
        self.last_stage_wall = walls
        t_last = [time.perf_counter()]

        def mark(stage: str) -> None:
            now = time.perf_counter()
            walls[stage] = round(now - t_last[0], 3)
            t_last[0] = now

        def tap(df: DataFrame, stage: str) -> DataFrame:
            if self.plan_probe is not None:
                self.plan_probe(stage, df)
            ob = Observation()
            taps.append((stage, ob))
            return df.observe(ob, F.count(F.lit(1)).alias("n"))

        def checkpoint(df: DataFrame, stage: str) -> DataFrame:
            df = df.localCheckpoint(eager=True)
            ckpts.append(df)
            mark(stage)
            return df

        spark = docs.sparkSession
        host_on = self.host_col is not None and self.host_col in docs.columns
        media_on = self.media_dedup and self.media_col in docs.columns
        b = _Batch(
            spark=spark, docs=docs, seg=seg, host_on=host_on, media_on=media_on,
            media_bands=media_on and self.media_near_dedup,
            ranks=self.read_host_ranks(spark) if host_on else None,
        )
        try:
            fresh = docs
            for g in _GATES:
                if not g.enabled(self, b):
                    continue
                if g.near:
                    if b.base is None or (b.drops and g.survivors(self)):
                        fresh = checkpoint(
                            fresh,
                            "valve_ckpt_funnel" if b.base is None
                            else "valve_ckpt_text_probe",
                        )
                        b.base, b.drops = fresh, []
                    sets = g.step(self, b)
                    b.drops += sets
                    for d in sets:
                        fresh = fresh.join(d, "doc_id", "left_anti")
                else:
                    fresh = g.step(self, b, fresh)
                fresh = tap(fresh, g.name)
                mark(g.name)
            if self.assign_splits:
                # split = salted hash of the exact fingerprint: a per-row
                # function, so it matches the batch operator's exact mode and
                # the same text lands in the same split in every batch
                bucket = (
                    md5_long(F.concat(F.lit(f"{SPLIT_SALT}|"), F.col("fingerprint")))
                    % 10
                ).cast("int")
                fresh = fresh.withColumn("split_bucket", bucket).withColumn(
                    "split",
                    F.when(bucket < 8, "train")
                    .when(bucket < 9, "val")
                    .otherwise("test"),
                )
            # an eager localCheckpoint, not persist(): the sinks write into
            # paths the survivor plan reads (module docstring, recacheByPath)
            if self.plan_probe is not None:
                self.plan_probe("final", fresh)
            b.fresh = checkpoint(fresh, "materialize")
            walls.update(run_sinks(
                spark,
                [(name, partial(fn, self, b))
                 for name, enabled, fn in _SINKS if enabled(self, b)],
                parallel=self.parallel_appends,
            ))
            mark("store_appends_total")
            # every tap is resolved by now (no extra Spark action); the
            # row lands inside the commit envelope, so a replay leaves
            # exactly one stats row per batch
            self._write_stats_row_driver_side(self._ingest_stats_row(taps), seg)
            mark("stats_row_write")
            if batch_id is not None:
                self._write_marker(seg)
        finally:
            for df_ in ckpts:
                _free_local_checkpoint(df_)

    # -- the gate steps (declared in _GATES) ---------------------------------

    def _gate_scrub(self, b: "_Batch", docs: DataFrame) -> DataFrame:
        # scrub + langid + host attach compose column-wise on one batch
        # scan; only the quality signals (policy gate) need the doc_id join
        counts = pii_counts(F.col("text"))
        flag = None
        for c in counts:
            term = c > 0
            flag = term if flag is None else flag | term
        cols = docs.select(
            F.col("doc_id"),
            F.col("text").alias("__text"),
            *([F.col(self.host_col).alias("__host")] if b.host_on else []),
            *counts,
            flag.alias("has_pii"),
            pii_redact(F.col("text")).alias("clean_text"),
        )
        return _langid_enrich(cols, "__text").drop("__text")

    def _gate_policy(self, b: "_Batch", df: DataFrame) -> DataFrame:
        # LEFT join, so a doc with no quality row (token-less text) fails
        # the >= below with a NULL score and counts as a policy drop;
        # EliminateOuterJoin plans it as the inner join
        scored = df.join(quality_signals(b.docs), "doc_id", "left")
        cond = F.col("quality_score") >= self.min_quality
        if self.keep_langs is not None:
            cond = cond & F.col("predicted_lang").isin(list(self.keep_langs))
        if self.drop_pii_docs:
            cond = cond & ~F.col("has_pii")
        return scored.filter(cond).withColumn(
            "fingerprint", F.md5(F.coalesce(F.col("clean_text"), F.lit("")))
        )

    def _gate_host(self, b: "_Batch", df: DataFrame) -> DataFrame:
        # domain reputation as a dimension lookup: the stored rank
        # generation (recompute_host_ranks, periodic maintenance) is
        # broadcast-joined onto the batch on the fused __host column
        ranks = b.ranks
        gate = F.coalesce(F.col("host_trustrank_fp"), F.lit(0)) > 0 \
            if "host_trustrank_fp" in ranks.columns else F.lit(True)
        if self.host_min_rank_pct is not None:
            cutoff = ranks.agg(
                F.percentile_approx(
                    "host_pagerank_fp", float(self.host_min_rank_pct), 10_000
                ).alias("c")
            ).collect()[0]["c"]
            gate = gate & (F.col("host_pagerank_fp") >= F.lit(cutoff))
        return (
            df.join(
                F.broadcast(ranks.withColumnRenamed("host", "__host")),
                "__host",
                "left",
            )
            .filter(gate)
            .drop(*[c for c in ranks.columns if c != "host"])
        )

    def _gate_exact_text(self, b: "_Batch", df: DataFrame) -> DataFrame:
        if b.host_on:
            df = df.drop("__host")  # served the host gate; not curated
        if b.media_on:
            # the payload rides into the curated table; its md5,
            # 'm|'-prefixed to share the fingerprint store, keys exact
            # media dedup. A NULL payload's NULL media_fp never joins.
            df = df.join(
                b.docs.select("doc_id", self.media_col), "doc_id"
            ).withColumn(
                "media_fp",
                F.when(
                    F.col(self.media_col).isNotNull(),
                    F.concat(F.lit("m|"), F.md5(F.col(self.media_col))),
                ),
            )
        # the lowest doc_id represents each text
        return df.join(
            df.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id")),
            ["fingerprint", "doc_id"],
            "left_semi",
        )

    def _gate_exact_media(self, b: "_Batch", df: DataFrame) -> DataFrame:
        # over the text survivors, so a text-dedup loser cannot take a
        # media group's representative slot
        keyed = df.filter(F.col("media_fp").isNotNull())
        losers = keyed.join(
            keyed.groupBy("media_fp").agg(F.min("doc_id").alias("doc_id")),
            ["media_fp", "doc_id"],
            "left_anti",
        ).select("doc_id")
        return df.join(losers, "doc_id", "left_anti")

    def _gate_store_dup(self, b: "_Batch", df: DataFrame) -> DataFrame:
        # anti-joined part by part, so the bucketed compacted part keeps
        # its co-located (exchange-free) store side
        for part in self.fingerprint_store_parts(b.spark):
            df = df.join(part, "fingerprint", "left_anti")
            if b.media_on:
                df = df.join(
                    part.withColumnRenamed("fingerprint", "media_fp"),
                    "media_fp",
                    "left_anti",
                )
        return df

    def _gate_text_near_batch(self, b: "_Batch") -> list[DataFrame]:
        # exact-Jaccard-verified MinHash-LSH pairs collapse to the
        # smallest id
        pairs = minhash_lsh_pairs(
            b.base.select("doc_id", F.col("clean_text").alias("text")),
            threshold=self.text_dedup_threshold,
            k=self.text_minhash_k,
            bands=self.text_bands,
            w=self.text_shingle_w,
        )
        return [pairs.select(F.col("id_b").alias("doc_id")).distinct()]

    def _gate_text_near_store(self, b: "_Batch") -> list[DataFrame]:
        # one bkey equi-join per store part, verified by signature
        # agreement (#equal minhash positions / k, the Jaccard estimate):
        # never touches corpus text
        self._enforce_band_law(self.text_bands_path, self._text_band_law())
        probe = self._text_band_rows(b.base)
        agree = F.aggregate(
            F.zip_with("sig", "_ssig", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        k = float(self.text_minhash_k)
        return [
            probe.join(part.withColumnRenamed("sig", "_ssig"), "bkey")
            .filter(agree / F.lit(k) >= self.text_dedup_threshold)
            .select(F.col("id").alias("doc_id"))
            .distinct()
            for part in self.text_band_store_parts(b.spark)
        ]

    def _gate_media_near_batch(self, b: "_Batch") -> list[DataFrame]:
        # pairs come id_a < id_b, so dropping every id_b collapses chains
        # to their smallest member
        pairs = phash_near_dup(
            self._media_hashes(b.base),
            max_hamming=self.media_max_hamming,
            bands=self.media_bands,
            max_band_freq=self.media_max_band_freq,
        )
        if b.drops:
            # the pairs span ids earlier near gates dropped since `base`;
            # a pair whose smaller id was dropped must not claim its
            # larger sibling (id_b needs no filter: re-dropping is a no-op)
            dropped = reduce(DataFrame.unionByName, b.drops)
            pairs = pairs.join(
                dropped.withColumnRenamed("doc_id", "id_a"), "id_a", "left_anti"
            )
        return [pairs.select(F.col("id_b").alias("doc_id")).distinct()]

    def _gate_media_near_store(self, b: "_Batch") -> list[DataFrame]:
        # one bkey equi-join per store part, verified by
        # bit_count(XOR) <= max_hamming
        self._enforce_band_law(self.phash_bands_path, self._phash_band_law())
        probe = self._media_band_rows(b.base)
        return [
            probe.join(part.withColumnRenamed("phash", "_sph"), "bkey")
            .filter(
                F.bit_count(F.col("phash").bitwiseXOR(F.col("_sph")))
                <= int(self.media_max_hamming)
            )
            .select(F.col("id").alias("doc_id"))
            .distinct()
            for part in self.phash_band_store_parts(b.spark)
        ]

    def _text_band_rows(self, df: DataFrame) -> DataFrame:
        """(id, bkey, sig) MinHash band rows of ``df``'s clean text, under
        the store's band law: the probe side and the appended rows."""
        return minhash_band_rows(
            df.select("doc_id", F.col("clean_text").alias("text")),
            id_col="doc_id",
            k=self.text_minhash_k,
            bands=self.text_bands,
            w=self.text_shingle_w,
        )

    def _media_hashes(self, df: DataFrame) -> DataFrame:
        return perceptual_hash(
            df.filter(F.col(self.media_col).isNotNull()).select(
                F.col("doc_id").alias("media_id"), self.media_col
            ),
            backend=self.media_backend,
        )

    def _media_band_rows(self, df: DataFrame) -> DataFrame:
        """(id, phash, bkey) band rows of ``df``'s payloads: the probe
        side and the appended rows."""
        return phash_band_keys(self._media_hashes(df), bands=self.media_bands)

    # -- the sinks (declared in _SINKS); each reads the checkpointed
    # survivors or the raw batch and writes its own segment -----------------

    def _sink_text_index(self, b: "_Batch") -> None:
        # a name-keyed index segment over an empty bootstrap generation:
        # no batch ever initializes the index from data, so a crash
        # between init and marker cannot double-count
        if self._text_index_law is None:
            # n_buckets/positional are fixed for the store's life: read
            # once per ingest object, not per batch
            info = init_text_index(
                b.spark, self.index_path, n_buckets=self.text_index_buckets
            )
            self._text_index_law = (
                int(info["n_buckets"]),
                bool(info["positional"]),
            )
        append_text_index(
            b.fresh.select("doc_id", F.col("clean_text").alias("text")),
            self.index_path,
            b.seg,
            law=self._text_index_law,
            return_stats=False,
        )

    def _sink_vector_index(self, b: "_Batch") -> None:
        # a name-keyed vector index segment; init is bootstrap-only (seed
        # centroids, dim from the first embedded batch)
        if self.vec_col in b.docs.columns:
            vecs = b.fresh.join(
                b.docs.select("doc_id", self.vec_col), "doc_id"
            ).filter(F.col(self.vec_col).isNotNull())
        else:
            # no embedding column: the deterministic hashed-projection
            # embedder over the survivors' text, under a recorded law
            enforce_law(
                self.vector_index_path,
                self._embed_law(),
                marker=EMBED_LAW_MARKER,
                what="vector index embedding law",
            )
            vecs = (
                hashed_text_embeddings(
                    b.fresh.select("doc_id", F.col("clean_text").alias("text")),
                    dim=self.embed_dim,
                    ngram=self.embed_ngram,
                )
                .withColumnRenamed("embedding", self.vec_col)
                # an exact-zero vector carries no signal and cosines to NaN
                .filter(F.exists(self.vec_col, lambda x: x != 0))
            )
        if _vec_gen(self.vector_index_path) is None:
            probe_row = vecs.select(self.vec_col).first()
            if probe_row is not None:
                init_vector_index(
                    b.spark,
                    self.vector_index_path,
                    dim=len(probe_row[0]),
                    n_lists=self.vector_n_lists,
                )
        if _vec_gen(self.vector_index_path) is not None:
            append_vector_index(
                vecs.select("doc_id", self.vec_col),
                self.vector_index_path,
                b.seg,
                id_col="doc_id",
                vec_col=self.vec_col,
                centroid_cache=self._vec_centroid_cache,
            )

    def _sink_host_edges(self, b: "_Batch") -> None:
        # from the RAW batch: spam hosts' links are how TrustRank
        # isolates them; the recompute reads the store as a set
        _append_segment(
            host_edges(b.docs, host_col=self.host_col, links_col=self.host_links_col),
            self.host_edges_path,
            b.seg,
        )

    def _sink_fingerprints(self, b: "_Batch") -> None:
        fps = b.fresh.select("fingerprint")
        if b.media_on:
            fps = fps.unionByName(
                b.fresh.filter(F.col("media_fp").isNotNull()).select(
                    F.col("media_fp").alias("fingerprint")
                )
            )
        _append_segment(fps, self.fps_path, b.seg)

    # -- per-batch observability ---------------------------------------------

    def _write_stats_row_driver_side(self, row: tuple, seg: str) -> None:
        """One pyarrow parquet file under ``batch_id=<seg>/`` typed by
        ``_INGEST_LOG_SCHEMA``, so Spark's partitioned read sees the
        table a ``createDataFrame().write`` would produce, without a
        Spark job for one row. The file lands inside the commit envelope
        like every other segment (cleared on replay, sealed by the
        marker)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = to_arrow_schema(StructType.fromDDL(_INGEST_LOG_SCHEMA))
        table = pa.table(
            {f.name: [v] for f, v in zip(schema, row)}, schema=schema
        )
        seg_dir = os.path.join(self.ingest_log_path, f"batch_id={seg}")
        storeio_for(seg_dir).makedirs(seg_dir)
        pq.write_table(
            table, os.path.join(seg_dir, "part-00000.parquet"),
            compression="snappy",
        )

    @staticmethod
    def _tap_count(ob) -> int:
        """An Observation tap's row count, tolerating AQE's
        empty-relation pruning (a fully-deduplicated micro-batch's tap
        is pruned with a provably-empty input, so 0 is exact — the r12
        stream-killer; the shared fallback lives in
        functions/observe.py)."""
        from ..functions.observe import observation_values

        return int(observation_values(ob, {"n": 0})["n"])

    def _ingest_stats_row(self, taps) -> tuple:
        """Fold the ordered tap counts into one fixed-schema stats tuple:
        each gate's drop = the difference between consecutive taps (the
        funnel only ever removes rows), absent gates report 0."""
        import time

        counts: dict[str, int] = {}
        drops: dict[str, int] = {}
        prev: int | None = None
        for name, ob in taps:
            n = self._tap_count(ob)
            counts[name] = n
            if prev is not None:
                drops[name] = prev - n
            prev = n
        return (
            float(time.time()),
            self.run_id,
            counts.get("in", 0),
            *(drops.get(g, 0) for g in _INGEST_GATES),
            prev if prev is not None else 0,
            len(_seg_dirs(self.fps_path)),
            len(self._live_curated_entries()),
            len(_seg_dirs(self.text_bands_path)),
            len(_seg_dirs(self.phash_bands_path)),
        )

    def ingest_log(self, spark: SparkSession) -> DataFrame:
        """The accumulated per-batch stats rows (one per committed
        batch; schema ``_INGEST_LOG_SCHEMA`` + ``batch_id``). Raises the
        standard missing-table error before the first logged batch.
        Includes any CRASHED attempt's row (stats written, marker not) —
        ``ingest_report`` filters those out; this raw view keeps them
        visible for debugging an abandoned run.

        Physical parts, like every other store: the compacted
        generation (``gen-*/log``, batch_id preserved as a data column)
        plus the per-batch ``batch_id=`` segments not yet folded —
        ``compact_ingest_log`` bounds the one-tiny-parquet-per-batch
        growth the r11 verdict flagged."""
        from ..plans.genstore import gen_name

        gen = gen_name(self.ingest_log_path)
        live = _live_seg_dirs(self.ingest_log_path)
        parts: list[DataFrame] = []
        if gen is not None:
            parts.append(
                spark.read.parquet(
                    os.path.join(self.ingest_log_path, gen, "log")
                )
            )
        if live:
            parts.append(
                spark.read.option("basePath", self.ingest_log_path).parquet(
                    *(os.path.join(self.ingest_log_path, e) for e in live)
                )
            )
        if not parts:
            # surface the standard missing/empty-table error
            return spark.read.parquet(self.ingest_log_path)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p.select(*parts[0].columns))
        return df

    def compact_ingest_log(
        self,
        spark: SparkSession,
        *,
        max_age_sec: float | None = None,
        assume_quiesced: bool = False,
        lease=None,
    ) -> dict:
        """Fold committed per-batch stats segments into one compacted
        generation — the observability store's retention job (r11
        verdict: ingest_log grew one tiny parquet per batch forever).
        Same fold loop as every other store (``plans/genstore.py``):
        stage → transitive manifest → pointer swap → GC; uncommitted
        segments (a possibly-in-flight batch) are left intact unless
        ``assume_quiesced``. ``max_age_sec`` drops rows whose ``ts`` is
        older than that horizon at fold time — lifetime totals in
        ``ingest_report`` then cover the retained window only, which is
        the point of a retention policy."""
        self._check_lease(lease)
        import time

        from ..plans.genstore import (
            fold_generation,
            folded_set,
            gc_orphan_generations,
            gen_name,
        )

        gen = gen_name(self.ingest_log_path)
        gc_orphan_generations(self.ingest_log_path, gen)
        prior_folded = folded_set(self.ingest_log_path, gen)
        segs = [
            e
            for e in _seg_dirs(self.ingest_log_path)
            if _seg_name(e) not in prior_folded
        ]
        foldable = [
            e
            for e in segs
            if assume_quiesced
            or _seg_name(e).startswith("adhoc-")
            or self._is_committed(_seg_name(e))
        ]
        # marker retention rides the same maintenance cadence: AFTER the
        # committed-filter above resolved (it reads marker files), fold
        # the files into the _COMMITTED manifest so the commits dir
        # stays bounded too (r12 review: the log's one-file-per-batch
        # growth pattern applied equally to its marker twin)
        folded_markers = self.compact_markers()
        if not foldable and gen is None:
            return {"folded_segments": 0, "generation": None,
                    "folded_markers": folded_markers}
        if not foldable and max_age_sec is None:
            # nothing new and no age horizon to apply: re-folding the
            # existing generation would be a full read+write job and a
            # pointer swap for zero data change — a periodic maintain
            # with no new batches must be a no-op
            return {
                "folded_segments": 0,
                "generation": gen,
                "skipped_uncommitted": len(segs),
                "dropped_aged_rows": 0,
                "folded_markers": folded_markers,
            }
        parts: list[DataFrame] = []
        if gen is not None:
            parts.append(
                spark.read.parquet(
                    os.path.join(self.ingest_log_path, gen, "log")
                )
            )
        if foldable:
            parts.append(
                spark.read.option("basePath", self.ingest_log_path).parquet(
                    *(os.path.join(self.ingest_log_path, e) for e in foldable)
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p.select(*parts[0].columns))
        dropped_aged = 0
        if max_age_sec is not None:
            cutoff = time.time() - float(max_age_sec)
            dropped_aged = df.filter(F.col("ts") < cutoff).count()
            df = df.filter(F.col("ts") >= cutoff)
        out_df = df.coalesce(1)

        def build(out: str) -> None:
            out_df.write.mode("overwrite").parquet(os.path.join(out, "log"))

        new_gen = fold_generation(
            self.ingest_log_path,
            build,
            folded=prior_folded | {_seg_name(e) for e in foldable},
            gc_paths=[os.path.join(self.ingest_log_path, e) for e in foldable]
            + ([os.path.join(self.ingest_log_path, gen)] if gen else []),
        )
        return {
            "folded_segments": len(foldable),
            "generation": new_gen,
            "skipped_uncommitted": len(segs) - len(foldable),
            "dropped_aged_rows": int(dropped_aged),
            "folded_markers": folded_markers,
        }

    def _committed_ingest_log(self, spark: SparkSession) -> DataFrame:
        """Log rows whose batch actually committed: marker present, or
        an ``adhoc-`` segment (adhoc calls are synchronous — the row
        only exists because the whole funnel body completed). A crashed
        streaming attempt whose stream never restarts leaves a stats
        row with no marker; counting it would inflate lifetime totals
        past the 'one row per committed batch' contract.
        The isin list is the marker directory listing — batches-sized,
        like the log itself."""
        live = (
            [
                e
                for e in self._io.listdir(self.commits_path)
                if e != _COMMITTED_MANIFEST and ".tmp." not in e
            ]
            if self._io.isdir(self.commits_path)
            else []
        )
        committed = sorted(self._committed_manifest_set() | set(live))
        return self.ingest_log(spark).filter(
            F.col("batch_id").startswith("adhoc-")
            | F.col("batch_id").isin(committed)
        )

    def live_segment_counts(self) -> dict[str, int]:
        """Unfolded segment count per store — directory listings only,
        no Spark job. The number maintenance is supposed to keep small:
        a store whose count grows without bound means its compaction
        lapsed (every probe re-lists and re-scans one small dir per
        batch forever)."""
        from ..plans.genstore import gen_name, live_segments

        def _keyed_live(path: str) -> int:
            # grace-window retirees are folded, present-on-disk
            # parts — not live, and must not trip the lapsed-compaction
            # alarm for the 300 s after every fold
            retired = self._retired_paths(path)
            return len(
                [
                    e
                    for e in _seg_dirs(path)
                    if os.path.join(path, e) not in retired
                ]
            )

        rank_gen = gen_name(self.host_ranks_path)
        edge_retired = (
            self._retired_paths(
                self.host_ranks_path,
                part_dir=os.path.join(self.host_ranks_path, rank_gen),
            )
            if rank_gen is not None
            else set()
        )
        counts = {
            "fingerprints": _keyed_live(self.fps_path),
            "curated": len(self._live_curated_entries()),
            "text_bands": _keyed_live(self.text_bands_path),
            "phash_bands": _keyed_live(self.phash_bands_path),
            "host_edges": len(
                [
                    e
                    for e in _seg_dirs(self.host_edges_path)
                    if os.path.join(self.host_edges_path, e)
                    not in edge_retired
                ]
            ),
            "text_index": len(live_segments(self.index_path)),
            "vector_index": len(live_segments(self.vector_index_path)),
        }
        counts["ingest_log"] = len(_live_seg_dirs(self.ingest_log_path))
        return counts

    def ingest_report(
        self, spark: SparkSession, *, max_live_segments: int = 64
    ) -> dict:
        """The streaming twin of ``corpus_report``: totals across the
        ingest's life (rows in, per-gate drops, admitted) plus the
        latest batch's row — the numbers an operator alarms on. One
        bounded aggregate over the (batches-sized) log table, restricted
        to COMMITTED batches. ``segment_alarms`` names any store whose
        live-segment count exceeds ``max_live_segments`` — the signal
        that its compaction job has lapsed."""
        log = self._committed_ingest_log(spark)
        drop_cols = [f"dropped_{g}" for g in _INGEST_GATES]
        agg = log.agg(
            F.count("*").alias("n_batches"),
            F.sum("rows_in").alias("rows_in"),
            F.sum("admitted").alias("admitted"),
            *[F.sum(c).alias(c) for c in drop_cols],
        ).collect()[0]
        latest_rows = log.orderBy(F.desc("ts")).limit(1).collect()
        seg_counts = self.live_segment_counts()
        # a retention fold may have aged out every row: totals are zero
        # for the retained window and there is no latest batch to show
        latest = latest_rows[0] if latest_rows else None
        return {
            "n_batches": int(agg["n_batches"]),
            "rows_in": int(agg["rows_in"] or 0),
            "admitted": int(agg["admitted"] or 0),
            "dropped": {
                g: int(agg[f"dropped_{g}"] or 0) for g in _INGEST_GATES
            },
            "live_segments": seg_counts,
            "segment_alarms": sorted(
                n for n, c in seg_counts.items() if c > int(max_live_segments)
            ),
            "latest_batch": None
            if latest is None
            else {
                "batch_id": latest["batch_id"],
                "rows_in": int(latest["rows_in"]),
                "admitted": int(latest["admitted"]),
                **{
                    f"dropped_{g}": int(latest[f"dropped_{g}"])
                    for g in _INGEST_GATES
                },
                "fps_segments": int(latest["fps_segments"]),
                "curated_segments": int(latest["curated_segments"]),
            },
        }

    # -- streaming entry --------------------------------------------------

    def start(self, doc_stream: DataFrame, checkpoint_dir: str) -> StreamingQuery:
        """Attach the funnel to an unbounded document stream; batch ids
        are scoped by the checkpoint's run id exactly like the MV
        cascade (streaming/pipeline.py module doc)."""
        self.run_id = _checkpoint_run_id(checkpoint_dir)
        return (
            doc_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )

    # -- query surface ----------------------------------------------------

    def _curated_fold_state(self) -> tuple[list[str], set[str]]:
        """(live segment dirs, all folded names): every ``_FOLDED``
        manifest present names segments whose rows live on inside its
        own compact segment. Manifests carry folded names forward
        TRANSITIVELY (a compaction's manifest includes everything the
        segments it folds had themselves folded), so a lagging directory
        GC can never resurrect a folded segment when a later compaction
        removes the manifest that excluded it."""
        entries = _seg_dirs(self.curated_path)
        folded: set[str] = set()
        for e in entries:
            mf = os.path.join(self.curated_path, e, _FOLDED_MANIFEST)
            if self._io.exists(mf):
                content = self._io.read_text(mf)
                if content.lstrip().startswith("["):
                    # pre-r12 compactions wrote JSON arrays; the shared
                    # genstore manifest is one name per line
                    folded.update(json.loads(content))
                else:
                    folded.update(
                        ln.strip() for ln in content.splitlines() if ln.strip()
                    )
        return [e for e in entries if _seg_name(e) not in folded], folded

    def _live_curated_entries(self) -> list[str]:
        return self._curated_fold_state()[0]

    def curated(self, spark: SparkSession) -> DataFrame:
        live = self._live_curated_entries()
        if not live:
            # surface the standard missing/empty-table error
            return spark.read.parquet(self.curated_path)
        return spark.read.option("basePath", self.curated_path).parquet(
            *(os.path.join(self.curated_path, e) for e in live)
        )

    def _store_table_name(self) -> str | None:
        return self._keyed_table_name(self.fps_path)

    def fingerprint_store_parts(self, spark: SparkSession) -> list[DataFrame]:
        """The store as its physical parts, big-to-small: the bucketed
        compacted table (if a compaction has run), then the uncompacted
        ``batch_id=`` segments (if any). Bootstrap states (no store dir,
        no parts yet) yield an empty list; a DANGLING pointer — the
        ``_STORE`` file names a table the catalog lost — raises, because
        silently skipping the compacted store would re-admit every
        duplicate it remembers. Corrupted segment files likewise surface
        as read/scan errors rather than being swallowed."""
        return self._keyed_store_parts(
            spark, self.fps_path, ["fingerprint"], "fingerprint"
        )

    def read_fingerprints(self, spark: SparkSession) -> DataFrame | None:
        """The full store as one DataFrame, or None only in the
        legitimate bootstrap states (store never written). Any other
        failure — dangling pointer, unreadable/truncated parquet —
        raises (r6 advice: a corrupted store must fail the batch loudly,
        not silently re-admit duplicates)."""
        parts = self.fingerprint_store_parts(spark)
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # -- band stores (streaming near-dedup, r10): phash (media) + minhash
    # (text) share one keyed-store discipline ------------------------------

    def _enforce_band_law(self, path: str, law: str) -> None:
        """The band law (bands count, hash family, shingle width) IS the
        store's key schema: a store written under bands=4 probed under
        bands=8 produces disjoint bkey spaces, so every probe silently
        misses and near-dups are re-admitted. Record the law at first
        use and fail LOUDLY on any mismatch — the shared
        plans/genstore.py law (silent re-admission is the one failure
        mode a dedup memory must not have)."""
        from ..plans.genstore import enforce_law

        enforce_law(path, law)

    def _phash_band_law(self) -> str:
        return f"phash|bands={int(self.media_bands)}"

    def _embed_law(self) -> str:
        """The text-fallback embedder's law (dim + ngram range): like a
        band law, it IS the stored vectors' key space — appending
        unigram-law vectors into a bigram-law index (a restarted stream
        with default ``embed_ngram``) silently degrades kNN/SemDeDup
        recall with no error, the exact failure mode ``_BAND_LAW``
        exists to make loud. Recorded under ``_EMBED_LAW`` in the
        vector index at first fallback embed, enforced on every later
        one; ``stored_embed_law_params`` reads it back for maintenance
        and probe tooling."""
        ng = self.embed_ngram
        lo, hi = (ng, ng) if isinstance(ng, int) else ng
        return (
            f"hembed|dim={int(self.embed_dim)}|ngram_lo={int(lo)}"
            f"|ngram_hi={int(hi)}"
        )

    def _text_band_law(self) -> str:
        """Derived from the SAME attributes every minhash call site uses,
        so a parameter change shifts the law string in lockstep with the
        bkey space it guards — a frozen literal here once let dedup.py
        defaults drift under a still-matching law."""
        return (
            f"minhash|k={self.text_minhash_k}|bands={self.text_bands}"
            f"|w={self.text_shingle_w}"
        )

    @staticmethod
    def _keyed_table_name(path: str) -> str | None:
        try:
            name = storeio_for(path).read_text(
                os.path.join(path, _STORE_POINTER)
            ).strip()
            return name or None
        except OSError:
            return None

    def _keyed_store_parts(
        self, spark: SparkSession, path: str, cols: list[str], what: str
    ) -> list[DataFrame]:
        """A keyed store as its physical parts (compacted bucketed
        table first, then uncompacted segments) — THE shared read
        contract of every bucketed-table store (exact fingerprints and
        both band stores): bootstrap yields [], a dangling pointer
        raises (silently skipping the compacted store would re-admit
        every duplicate it remembers)."""
        parts: list[DataFrame] = []
        tbl = self._keyed_table_name(path)
        if tbl is not None:
            if not spark.catalog.tableExists(tbl):
                raise RuntimeError(
                    f"{what} store pointer names missing table {tbl!r} "
                    f"({os.path.join(path, _STORE_POINTER)}); refusing to "
                    f"run with the {what} dedup store silently disabled"
                )
            parts.append(spark.table(tbl).select(*cols))
        retired = self._retired_paths(path)
        seg_entries = [
            e for e in _seg_dirs(path) if os.path.join(path, e) not in retired
        ]
        if seg_entries:
            parts.append(
                spark.read.option("basePath", path)
                .parquet(*(os.path.join(path, e) for e in seg_entries))
                .select(*cols)
            )
        return parts

    def _retired_paths(self, path: str, *, part_dir: str | None = None) -> set:
        """Paths the store's committed retire manifest lists — folded
        inputs inside their reader grace window. Present on disk
        for in-flight readers, but excluded from fold inputs and fresh
        probes (their rows already live in the folded part)."""
        from ..plans.genstore import read_retire_manifest

        return {
            p
            for _ts, p in read_retire_manifest(part_dir or path, self._io)
            if not p.startswith("table:")
        }

    def _sweep_keyed_retired(self, spark: SparkSession, path: str) -> None:
        """Delete a keyed store's retirees (folded segment dirs and
        superseded ``table:<name>`` catalog entries) once their retire
        stamp has aged past the grace window — run at the start of the
        next compaction, so a retiree is never deleted under a probe
        that resolved it within the window."""
        import time as _t

        from ..plans.genstore import (
            GEN_GC_GRACE_S,
            read_retire_manifest,
            write_retire_manifest,
        )

        entries = read_retire_manifest(path, self._io)
        if not entries:
            return
        now = _t.time()
        keep: list[tuple[float, str]] = []
        for ts, p in entries:
            if now - ts <= GEN_GC_GRACE_S:
                keep.append((ts, p))
            elif p.startswith("table:"):
                if spark is None:  # no session to drop with: keep for later
                    keep.append((ts, p))
                else:
                    spark.sql(f"DROP TABLE IF EXISTS {p[len('table:'):]}")
            else:
                self._io.rmtree(p)
        if len(keep) != len(entries):
            write_retire_manifest(path, keep, self._io)

    def _compact_keyed_store(
        self,
        spark: SparkSession,
        path: str,
        cols: list[str],
        prefix: str,
        *,
        buckets: int,
        assume_quiesced: bool,
        max_key_freq: int | None,
        what: str,
        key: str = "bkey",
    ) -> dict:
        """Fold committed segments of a ``key``-keyed store into a
        ``key``-bucketed table — THE shared crash discipline of every
        bucketed-table store (exact fingerprints, phash bands, text
        bands are all thin configurations of this one fold): new
        generation → atomic pointer swap → GC; every crash window
        leaves a readable SUPERSET, harmless to the probe join. When
        ``max_key_freq`` is given, keys carried by more rows than
        the valve are dropped from the FOLDED store (one bounded
        aggregate here instead of a store-sized frequency scan per
        batch): a near-dup pair loses its pigeonhole guarantee only if
        EVERY shared band is hot — the mega-cluster regime the exact
        fingerprint family already collapses."""
        self._sweep_keyed_retired(spark, path)
        retired = self._retired_paths(path)
        seg_entries = [
            e for e in _seg_dirs(path) if os.path.join(path, e) not in retired
        ]
        foldable = [
            e
            for e in seg_entries
            if assume_quiesced or self._is_committed(_seg_name(e))
        ]
        old_table = self._keyed_table_name(path)
        if not foldable:
            return {
                "folded_segments": 0,
                "table": old_table,
                "skipped_uncommitted": len(seg_entries),
            }
        from ..plans.bucketing import write_bucketed

        parts = []
        if old_table is not None:
            if not spark.catalog.tableExists(old_table):
                raise RuntimeError(
                    f"{what} store pointer names missing table {old_table!r}"
                )
            parts.append(spark.table(old_table).select(*cols))
        parts.append(
            spark.read.parquet(
                *(os.path.join(path, e) for e in foldable)
            ).select(*cols)
        )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df = df.distinct()
        if max_key_freq is not None:
            hot = (
                df.groupBy(key)
                .agg(F.count("*").alias("_n"))
                .filter(F.col("_n") > int(max_key_freq))
                .select(key)
            )
            df = df.join(hot, key, "left_anti")
        digest = hashlib.md5(os.path.abspath(path).encode()).hexdigest()
        new_table = f"{prefix}_{digest[:10]}_g{uuid.uuid4().hex[:8]}"
        write_bucketed(df, new_table, key=key, buckets=buckets)
        from ..plans.genstore import swap_pointer

        # same atomic commit as the generational stores, different
        # pointer file: _STORE names a catalog table, not a gen dir
        swap_pointer(path, new_table, marker=_STORE_POINTER)
        # reader grace window: a concurrent
        # batch's store probe that resolved the OLD table + segment
        # list must finish against intact parts, so the folded
        # segments and the superseded catalog table are RETIRED (root
        # retire manifest, written AFTER the commit — a crash before
        # it leaves present-but-folded segments, a harmless probe
        # superset the next fold re-reads) and swept at the START of
        # a later compaction once aged past the grace.
        import time as _t

        from ..plans.genstore import read_retire_manifest, write_retire_manifest

        now = _t.time()
        entries = read_retire_manifest(path, self._io) + [
            (now, os.path.join(path, e)) for e in foldable
        ]
        if old_table is not None and old_table != new_table:
            entries.append((now, f"table:{old_table}"))
        write_retire_manifest(path, entries, self._io)
        return {
            "folded_segments": len(foldable),
            "table": new_table,
            "skipped_uncommitted": len(seg_entries) - len(foldable),
        }

    def _band_table_name(self) -> str | None:
        return self._keyed_table_name(self.phash_bands_path)

    def _text_band_table_name(self) -> str | None:
        return self._keyed_table_name(self.text_bands_path)

    def phash_band_store_parts(self, spark: SparkSession) -> list[DataFrame]:
        return self._keyed_store_parts(
            spark, self.phash_bands_path, ["bkey", "phash"], "phash band"
        )

    def text_band_store_parts(self, spark: SparkSession) -> list[DataFrame]:
        return self._keyed_store_parts(
            spark, self.text_bands_path, ["bkey", "sig"], "text band"
        )

    def compact_phash_bands(
        self,
        spark: SparkSession,
        *,
        buckets: int = 32,
        assume_quiesced: bool = False,
        lease=None,
    ) -> dict:
        self._check_lease(lease)
        return self._compact_keyed_store(
            spark,
            self.phash_bands_path,
            ["bkey", "phash"],
            "curation_bands",
            buckets=buckets,
            assume_quiesced=assume_quiesced,
            max_key_freq=self.media_max_band_freq,
            what="phash band",
        )

    def compact_text_bands(
        self,
        spark: SparkSession,
        *,
        buckets: int = 32,
        assume_quiesced: bool = False,
        max_band_freq: int | None = None,
        lease=None,
    ) -> dict:
        self._check_lease(lease)
        return self._compact_keyed_store(
            spark,
            self.text_bands_path,
            ["bkey", "sig"],
            "curation_tbands",
            buckets=buckets,
            assume_quiesced=assume_quiesced,
            max_key_freq=(
                max_band_freq
                if max_band_freq is not None
                else self.text_max_band_freq
            ),
            what="text band",
        )

    # -- store lifecycle (maintenance jobs) -------------------------------
    #
    # CONCURRENCY CONTRACT (single writer, single maintainer): one
    # CurationIngest stream owns a base_dir's per-batch appends, and at
    # most one maintenance job runs against it at a time. The commit
    # discipline makes VIOLATIONS safe but wasteful-or-loud, not silent:
    # enforce_law's bootstrap is exclusive, compactions fold only
    # marker-committed segments, and a second stream would collide on
    # segment names — but two concurrent maintains would both stage
    # rival folds of the same segments (the loser's full fold job is
    # thrown away at its pointer swap, and marker retention racing
    # _write_marker leans on the 1-hour tmp age gate). The lease below
    # turns that contract into an explicit, testable guard.

    def maintenance_lease(self, timeout_s: float | None = None):
        """The store-level single-maintainer lease: a context manager
        serializing maintenance jobs (compactions, rank recompute, log
        fold) on this ``base_dir``. Reuses the state-table writer lock
        (plans/tables.py::_WriterLock — exclusive create, atomic on
        POSIX via the StoreIO seam) under ``.maintain_lock``.

        Takeover rule (documented so operators can reason about a
        crashed maintainer): a contender waits ``timeout_s`` (default
        ``plans.tables._LOCK_TIMEOUT_S`` = 120 s), then breaks the lock
        ONLY if its file is older than ``max(10 × timeout_s, 300 s)``
        — presumed dead, not merely slow — and otherwise raises
        ``TimeoutError`` loudly. A LIVE holder can never look dead: a
        heartbeat refreshes the lock's mtime every 30 s while held, so
        arbitrarily long maintenance jobs keep their lease, and the
        break itself is a token-conditional delete
        (``StoreIO.unlink_if`` — a fresh lock from a faster contender
        survives, even one created between the staleness check and
        the break). The curate-maintain CLI wraps its
        whole job sequence in this lease; programmatic callers running
        maintenance concurrently with their own scheduler should do
        the same (the lease is NOT re-entrant — take it once around
        the sequence, not per compactor).

        ``with maintenance_lease() as lease:`` yields a TOKEN object
       : pass it as ``lease=`` to each
        maintenance method. A maintenance method invoked WITHOUT a
        token while a ``.maintain_lock`` exists warns — or raises
        under ``strict_lease=True`` — because that is exactly the
        two-concurrent-maintainers hazard the lease exists to prevent
        (the lease is otherwise easy to forget for programmatic
        callers: every compactor remains individually callable)."""
        from ..plans.tables import _LOCK_TIMEOUT_S, _WriterLock

        self._io.makedirs(self.base_dir)
        return MaintenanceLease(
            _WriterLock(
                self.base_dir,
                timeout_s=_LOCK_TIMEOUT_S if timeout_s is None else timeout_s,
                name=".maintain_lock",
            )
        )

    def _check_lease(self, lease) -> None:
        """Guard at the top of every maintenance method: a passed
        token must be live; no token + a live ``.maintain_lock`` means
        SOMEONE ELSE is maintaining this base_dir right now — warn, or
        raise under ``strict_lease`` (r13 verdict item 5: a
        programmatic lease-less maintain against a leased store must
        fail loudly, not stage a rival fold whose work the pointer
        swap throws away)."""
        if lease is not None:
            if not isinstance(lease, MaintenanceLease):
                raise TypeError(
                    "lease= expects the token maintenance_lease() yields"
                )
            if not lease.held:
                raise RuntimeError(
                    "maintenance lease token is not held (used outside "
                    "its `with maintenance_lease()` block?)"
                )
            return
        lock = os.path.join(self.base_dir, ".maintain_lock")
        if self._io.exists(lock):
            msg = (
                f"maintenance job on {self.base_dir} invoked WITHOUT the "
                "lease while .maintain_lock exists — another maintainer "
                "holds this store; two concurrent maintains stage rival "
                "folds and the loser's full job is thrown away. Take "
                "`with ing.maintenance_lease() as lease:` and pass "
                "`lease=lease`, or remove the stale lock."
            )
            if self.strict_lease:
                raise RuntimeError(msg)
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=3)

    def compact_fingerprints(
        self,
        spark: SparkSession,
        *,
        buckets: int = 32,
        assume_quiesced: bool = False,
        lease=None,
    ) -> dict:
        """Fold committed fingerprint segments into the bucketed store
        table — a thin configuration of :meth:`_compact_keyed_store`
        (key = the 16-byte fingerprint, no hot-key valve: exact-dup
        keys are SUPPOSED to collide). Only segments whose batch has a
        commit marker are folded (an uncommitted segment may belong to
        a crashed attempt the stream will replay; folding it would
        freeze a partial write into the compacted store) — pass
        ``assume_quiesced=True`` to fold ALL segments when the caller
        guarantees the stream is stopped and its checkpoint fully
        committed (e.g. legacy stores written before commit markers
        existed)."""
        self._check_lease(lease)
        return self._compact_keyed_store(
            spark,
            self.fps_path,
            ["fingerprint"],
            "curation_fps",
            buckets=buckets,
            assume_quiesced=assume_quiesced,
            max_key_freq=None,
            what="fingerprint",
            key="fingerprint",
        )

    def compact_curated(
        self,
        spark: SparkSession,
        *,
        threshold: float = 0.5,
        assume_quiesced: bool = False,
        target_files: int | None = 4,
        lease=None,
    ) -> dict:
        """Periodic near-dedup merge over the curated table: MinHash-LSH
        pairs → connected components → keep the lowest doc_id per
        component, survivors rewritten as ONE ``batch_id=nearcompact-*``
        segment that lists the segments it folded in its ``_FOLDED``
        manifest. Commit point = the segment's atomic rename into the
        table directory: from that instant readers resolve the manifest
        and exclude the folded segments, so the merge is exactly-once
        even if the trailing directory GC crashes half-way. Only
        committed segments (and earlier compact segments, committed by
        construction) are folded — a replayed batch therefore can never
        race its own fold.

        Exact fingerprints of pruned docs deliberately REMAIN in the
        fingerprint store: a byte-identical copy of a dropped near-dup
        arriving later must still be suppressed."""
        from ..operators.dedup import connected_components, minhash_lsh_pairs

        self._check_lease(lease)
        live, prior_folded = self._curated_fold_state()
        foldable = [
            e
            for e in live
            if _seg_name(e).startswith("nearcompact-")
            or assume_quiesced
            or self._is_committed(_seg_name(e))
        ]
        if not foldable:
            return {"folded_segments": 0, "dropped_docs": 0}
        df = spark.read.parquet(
            *(os.path.join(self.curated_path, e) for e in foldable)
        )
        pairs = minhash_lsh_pairs(
            df,
            text_col="clean_text",
            id_col="doc_id",
            threshold=threshold,
            k=self.text_minhash_k,
            bands=self.text_bands,
            w=self.text_shingle_w,
        ).select("id_a", "id_b")
        if self.media_dedup and self.media_col in df.columns:
            # media near-dup joins the same component graph (batch-funnel
            # parity: operators/curation.py media_col) — exact payload
            # copies are already suppressed by the per-batch media_fp
            # pass, so this adds the perturbed-copy (perceptual) edges
            from ..operators.multimodal import media_dedup_edges

            pairs = pairs.unionByName(
                media_dedup_edges(
                    df.select(
                        F.col("doc_id").alias("media_id"),
                        F.col(self.media_col).alias("payload"),
                    ),
                    backend=self.media_backend,
                    max_hamming=self.media_max_hamming,
                    bands=self.media_bands,
                    max_band_freq=self.media_max_band_freq,
                )
            )
        comps = connected_components(pairs)
        dropped = comps.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias("doc_id")
        )
        survivors = df.join(dropped, "doc_id", "left_anti")
        if target_files is not None:
            survivors = survivors.coalesce(int(target_files))
        seg = f"nearcompact-{uuid.uuid4().hex[:12]}"
        n_dropped: dict[str, int] = {}

        def build(out: str) -> None:
            # the write MATERIALIZES the survivors before any folded
            # segment is touched — the lineage reads the very
            # directories the post-commit GC deletes
            survivors.write.mode("overwrite").parquet(out)
            n_dropped["n"] = dropped.count()

        from ..plans.genstore import fold_into_segment

        fold_into_segment(
            self.curated_path,
            f"batch_id={seg}",
            build,
            # transitive: include everything the folded segments had
            # folded, so deleting THEIR manifests can't resurrect an
            # orphaned dir
            folded=prior_folded | {_seg_name(e) for e in foldable},
            gc_paths=[os.path.join(self.curated_path, e) for e in foldable],
        )
        return {
            "folded_segments": len(foldable),
            "dropped_docs": n_dropped["n"],
            "segment": seg,
        }

    def search(self, spark: SparkSession, query: str, *, k: int = 10) -> DataFrame:
        """BM25 top-k over the ingest's accreting text index (requires
        ``text_index=True`` on the ingest)."""
        from ..operators.search import bm25_probe_stored

        return bm25_probe_stored(spark, self.index_path, query, k=k)

    def compact_text_index(self, spark: SparkSession, *, lease=None) -> dict:
        """Fold the ingest's accumulated index segments (the same
        maintenance discipline as compact_fingerprints — run it from
        the curate-maintain CLI alongside the store compactions)."""
        from ..operators.search import compact_text_index

        self._check_lease(lease)
        return compact_text_index(spark, self.index_path)

    def knn(
        self, spark: SparkSession, queries: DataFrame, *, k: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """Embedding kNN over the ingest's accreting vector index
        (requires ``vector_index=True``); queries are (vec_id,
        embedding) probe rows."""
        from ..operators.vecindex import knn_probe_stored

        return knn_probe_stored(
            spark, self.vector_index_path, queries, k=k, nprobe=nprobe
        )

    def compact_vector_index(
        self, spark: SparkSession, *, assume_quiesced: bool = False,
        lease=None, **kw
    ) -> dict:
        """Fold vector-index segments into a new generation, re-learning
        the coarse quantizer from the accumulated corpus (same
        maintenance slot as compact_text_index). Only segments whose
        batch carries a commit marker are folded — the
        compact_fingerprints discipline, so a racing append's segment
        is left intact and probeable instead of half-folded and
        deleted; ``assume_quiesced=True`` folds all segments (stream
        stopped, checkpoint committed)."""
        from ..operators.vecindex import compact_vector_index

        self._check_lease(lease)
        return compact_vector_index(
            spark,
            self.vector_index_path,
            committed=None if assume_quiesced else self._is_committed,
            **kw,
        )
    # -- host-rank maintenance (the streaming domain-reputation store) ------

    def read_host_ranks(self, spark: SparkSession) -> DataFrame | None:
        """The CURRENT rank generation (host, host_pagerank_fp
        [, host_trustrank_fp]) or None before the first recompute."""
        from ..plans.genstore import gen_name as _gen_name

        gen = _gen_name(self.host_ranks_path)
        if gen is None:
            return None
        return spark.read.parquet(
            os.path.join(self.host_ranks_path, gen, "ranks")
        )

    def recompute_host_ranks(self, spark: SparkSession, *, lease=None) -> dict:
        """The periodic rank job (run from curate-maintain, like every
        other store compaction): fold the accumulated per-batch edge
        segments into a new generation holding the DISTINCT edge set
        plus the ranks pagerank_multi computes over it, then swap the
        pointer atomically and GC.

        Rank-as-dimension, refreshed periodically — deliberately NOT
        per-batch propagation: PageRank is a corpus-sized job (its
        iterations exchange node-sized tables over the whole edge set),
        so it sits on the batch side of the lambda split with near-dedup
        compaction, while each micro-batch only broadcast-joins the
        stored generation. Crash-safe by the store discipline: the new
        generation is fully written before the ``os.replace`` pointer
        swap; a crash before the swap leaves an orphan gen-* dir (GC'd
        at the next run), a crash after it leaves folded segments whose
        re-read is harmless because the edge store is a SET — a replayed
        or unfolded segment's duplicate edges vanish in the distinct.

        Trust seeds: the vetted list may legitimately contain hosts the
        crawl has not seen yet — the job runs with the INTERSECTION of
        seeds and graph nodes (pagerank_multi would raise on absent
        seeds) and reports both counts; it raises only if NO seed is in
        the graph (a vetted-list/corpus mismatch worth failing loudly).
        """
        from ..operators.graph import pagerank_multi
        from ..plans.genstore import (
            fold_generation,
            gc_orphan_generations,
            gen_name as _gen_name,
        )

        self._check_lease(lease)
        old_gen = _gen_name(self.host_ranks_path)
        # GC generations orphaned by a crashed previous run
        gc_orphan_generations(self.host_ranks_path, old_gen)
        retired = (
            self._retired_paths(
                self.host_ranks_path,
                part_dir=os.path.join(self.host_ranks_path, old_gen),
            )
            if old_gen is not None
            else set()
        )
        segs = [
            e
            for e in _seg_dirs(self.host_edges_path)
            if os.path.join(self.host_edges_path, e) not in retired
        ]
        parts = []
        if old_gen is not None:
            gdir = os.path.join(self.host_ranks_path, old_gen, "edges")
            if _has_parquet(gdir):
                parts.append(spark.read.parquet(gdir))
        for e in segs:
            sdir = os.path.join(self.host_edges_path, e)
            if _has_parquet(sdir):
                parts.append(
                    spark.read.parquet(sdir).select("src", "dst")
                )
        if not parts:
            return {"edges": 0, "hosts": 0, "generation": old_gen,
                    "folded_segments": 0}
        edges = parts[0]
        for p in parts[1:]:
            edges = edges.unionByName(p)
        edges = edges.distinct().persist()
        teleports: dict[str, list | None] = {"host_pagerank_fp": None}
        seeds_present = None
        if self.host_trust_seeds:
            want = list(dict.fromkeys(self.host_trust_seeds))
            from ..operators.graph import MAX_SEEDS

            if len(want) > MAX_SEEDS:
                # enforce the dimension contract BEFORE the isin plan and
                # the bounded collect below, not just inside pagerank_multi
                raise ValueError(
                    f"{len(want)} trust seeds > MAX_SEEDS={MAX_SEEDS}; a "
                    "seed set that big is not a vetted dimension list"
                )
            nodes = edges.select(F.col("src").alias("n")).union(
                edges.select(F.col("dst").alias("n"))
            )
            seeds_present = [
                r["n"]
                for r in nodes.filter(F.col("n").isin(want)).distinct().collect()
            ]
            if not seeds_present:
                raise ValueError(
                    "none of the configured host_trust_seeds are nodes of "
                    "the accumulated host graph — vetted list and corpus "
                    "do not overlap"
                )
            teleports["host_trustrank_fp"] = seeds_present
        ranks = pagerank_multi(
            edges, teleports=teleports, iterations=self.host_rank_iterations
        ).withColumnRenamed("node", "host")
        counts: dict[str, int] = {}

        def build(out: str) -> None:
            edges.write.mode("overwrite").parquet(os.path.join(out, "edges"))
            ranks.write.mode("overwrite").parquet(os.path.join(out, "ranks"))
            counts["hosts"] = spark.read.parquet(
                os.path.join(out, "ranks")
            ).count()
            counts["edges"] = edges.count()

        # manifest=False: the fold inputs live in the SEPARATE edge-
        # segment directory and dedupe by value (the edge store is a
        # SET), so a lagging GC re-read is harmless without one
        new_gen = fold_generation(
            self.host_ranks_path,
            build,
            manifest=False,
            gc_paths=[os.path.join(self.host_edges_path, e) for e in segs]
            + (
                [os.path.join(self.host_ranks_path, old_gen)]
                if old_gen is not None
                else []
            ),
        )
        edges.unpersist()
        n_hosts, n_edges = counts["hosts"], counts["edges"]
        return {
            "edges": int(n_edges),
            "hosts": int(n_hosts),
            "generation": new_gen,
            "folded_segments": len(segs),
            "trust_seeds_configured": (
                len(self.host_trust_seeds) if self.host_trust_seeds else 0
            ),
            "trust_seeds_in_graph": (
                len(seeds_present) if seeds_present is not None else 0
            ),
        }


def _always(ing: CurationIngest, b: _Batch) -> bool:
    return True


def _text_near(ing: CurationIngest, b: _Batch) -> bool:
    return ing.text_near_dedup


def _media_near(ing: CurationIngest, b: _Batch) -> bool:
    return b.media_bands


_GATES = (
    _Gate("in", _always, CurationIngest._gate_scrub),
    _Gate("policy", _always, CurationIngest._gate_policy),
    _Gate("host", lambda ing, b: b.ranks is not None, CurationIngest._gate_host),
    _Gate("exact_text", _always, CurationIngest._gate_exact_text),
    _Gate("exact_media", lambda ing, b: b.media_on, CurationIngest._gate_exact_media),
    _Gate("store_dup", _always, CurationIngest._gate_store_dup),
    _Gate("text_near_batch", _text_near, CurationIngest._gate_text_near_batch, near=True),
    _Gate("text_near_store", _text_near, CurationIngest._gate_text_near_store, near=True),
    # phash_near_dup's max_band_freq counts band frequency over its input
    _Gate(
        "media_near_batch", _media_near, CurationIngest._gate_media_near_batch,
        near=True, survivors=lambda ing: ing.media_max_band_freq is not None,
    ),
    _Gate("media_near_store", _media_near, CurationIngest._gate_media_near_store, near=True),
)

# (name, enabled, fn(ing, batch)); independent of each other, so
# run_sinks may run them concurrently, and the commit marker is written
# only after all of them succeed
_SINKS = (
    ("curated_append", _always,
     lambda ing, b: _append_segment(b.fresh, ing.curated_path, b.seg)),
    ("text_index_append", lambda ing, b: ing.text_index,
     CurationIngest._sink_text_index),
    ("vector_index_append",
     lambda ing, b: ing.vector_index
     and (ing.vec_col in b.docs.columns or ing.embed_dim is not None),
     CurationIngest._sink_vector_index),
    ("host_edges_append",
     lambda ing, b: b.host_on and ing.host_links_col in b.docs.columns,
     CurationIngest._sink_host_edges),
    ("phash_bands_append", _media_near,
     lambda ing, b: _append_segment(
         ing._media_band_rows(b.fresh).select("bkey", "phash"),
         ing.phash_bands_path, b.seg)),
    ("text_bands_append", _text_near,
     lambda ing, b: _append_segment(
         ing._text_band_rows(b.fresh).select("bkey", "sig"),
         ing.text_bands_path, b.seg)),
    ("fps_append", _always, CurationIngest._sink_fingerprints),
)

# one row per committed batch in ingest_log/, the funnel's per-gate
# health record: rows in, each later gate's drop (0 when the gate is off,
# keeping the schema stable for dashboards), admitted, and store segment
# tallies. A near-dedup store that silently admits everything shows as
# its dropped_*_store flatlining at 0 while the corpus grows.
_INGEST_GATES = tuple(g.name for g in _GATES[1:])
_INGEST_LOG_SCHEMA = ", ".join(
    ["ts double", "run_id string", "rows_in long"]
    + [f"dropped_{g} long" for g in _INGEST_GATES]
    + ["admitted long", "fps_segments int", "curated_segments int",
       "text_band_segments int", "phash_band_segments int"]
)

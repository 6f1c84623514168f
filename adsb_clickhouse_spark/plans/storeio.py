"""The commit-metadata I/O seam under every store (r12 verdict item 1).

Every pointer/marker/manifest/law commit in the engine — the generational
stores (plans/genstore.py), the batch commit markers and fold manifests
(streaming/curation.py), the state snapshot pointer and writer lock
(plans/tables.py), the checkpoint run-id (streaming/pipeline.py) — is a
handful of tiny-file operations whose ATOMICITY carries the engine's
crash-safety proofs:

- ``write_atomic``: tmp write + rename — readers see the old or the new
  content, never a torn one (the pointer-swap commit);
- ``create_exclusive``: exactly one concurrent creator wins, the loser
  reads the winner's content (law bootstrap, writer lock, run-id);
- ``rename``: one atomic directory publish (the staged-segment commit).

These primitives exist on POSIX (``os.replace``, ``os.link``/``O_EXCL``,
``os.rename``) but NOT on the object stores a 100 TB deployment reads
its data from: S3 "rename" is copy+delete, there are no hard links, and
list-after-write was only recently consistent. Running the rename-based
commit protocol against such a store wouldn't fail — it would silently
void every crash-safety argument. So the seam is explicit:

- :class:`LocalStoreIO` is the default and the only data-path-capable
  implementation today (the sandbox and any shared-POSIX cluster:
  NFS, Lustre, GPFS, a FUSE mount with POSIX rename semantics);
- :func:`storeio_for` raises LOUDLY on ``s3://``/``hdfs://``/``abfs://``
  (etc.) store paths, naming the contract a port must satisfy — an
  object-store implementation needs a compare-and-swap primitive
  (DynamoDB/etcd/ZooKeeper conditional put, or S3 conditional writes)
  behind the same five-method surface, which is exactly the role
  ClickHouse Keeper plays for the reference's EKS deployment
  (manifests/adsb-clickhouse/30-clickhouse-eks.yaml.example);
- :class:`CASStoreIO` (r13 verdict item 1) IS that port: the whole
  commit protocol implemented on conditional-put primitives only
  (:class:`CASBackend` — no rename, no hard link, by construction),
  with the method-by-method mapping to S3 conditional writes and
  DynamoDB in its docstrings. Register it for a scheme
  (:func:`register_scheme`) or, for hybrid local-data/CAS-metadata
  runs, a path prefix (:func:`register_prefix`). Over
  :class:`MemCASBackend` under a scheme path it is also the in-process
  fake the contract tests run against, proving the callers depend only
  on the interface semantics, not on the POSIX filesystem behind it.

Data-plane I/O (parquet segment reads/writes) is NOT behind this seam —
Spark's own Hadoop filesystem layer already abstracts that correctly;
only the driver-side commit metadata needed a home.
"""

from __future__ import annotations

import glob as _glob
import os
import re
import shutil
import threading
import time
import uuid

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://")

# schemes we KNOW name object stores / DFS without the POSIX primitives
# the commit protocol requires — the loud-guard list
_REMOTE_SCHEMES = frozenset(
    {
        "s3", "s3a", "s3n", "hdfs", "abfs", "abfss", "adl", "gs", "gcs",
        "wasb", "wasbs", "oss", "cos", "cosn", "obs", "swift", "viewfs",
        "o3fs", "ofs",
    }
)


class StoreIO:
    """Commit-metadata primitives every store path goes through.

    Implementations must honor the atomicity contracts in the module
    docstring; everything else (listing, existence, deletes) is plain
    namespace bookkeeping.
    """

    def read_text(self, path: str) -> str:
        """Contents of a small text file; raises ``OSError`` if absent."""
        raise NotImplementedError

    def write_atomic(self, path: str, text: str) -> None:
        """Publish ``text`` at ``path`` atomically (readers see the old
        content or the new, never a torn intermediate)."""
        raise NotImplementedError

    def create_exclusive(self, path: str, text: str) -> tuple[bool, str]:
        """Atomically create ``path`` with ``text`` iff it does not
        exist. Returns ``(True, text)`` if this caller won the create,
        else ``(False, existing_content)`` — exactly one concurrent
        creator can ever win."""
        raise NotImplementedError

    def unlink(self, path: str) -> None:
        """Remove a file; raises ``OSError`` if absent."""
        raise NotImplementedError

    def unlink_if(self, path: str, token) -> bool:
        """Remove ``path`` iff its :meth:`stat_token` still equals
        ``token`` — the conditional delete a stale-lock takeover needs
        (r13 advice: a plain break could steal a FRESH lock created
        between the staleness check and the removal). Returns True iff
        THIS caller removed that exact file version; False when the
        file vanished, was replaced, or another breaker won.
        Implementations with a native compare-and-swap delete do this
        in one atomic step; POSIX approximates it with a claim-rename
        + token verify + non-clobbering restore (see LocalStoreIO)."""
        raise NotImplementedError

    def file_size(self, path: str) -> int:
        """Size in bytes of a file; raises ``OSError`` if absent."""
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Immediate child names; raises ``OSError`` if absent."""
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        """mkdir -p (exist_ok)."""
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        """Recursive delete, ignore_errors semantics (pure GC calls)."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Atomic rename of a file or a whole directory tree; ``dst``
        must not already exist for directories (the staged-segment
        publish)."""
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        """Modification time (seconds); raises ``OSError`` if absent."""
        raise NotImplementedError

    def touch(self, path: str) -> None:
        """Refresh an existing file's mtime (lease heartbeats); raises
        ``OSError`` if absent."""
        raise NotImplementedError

    def stat_token(self, path: str):
        """An opaque token that changes whenever the file's content
        may have changed — cache-invalidation key (finer than a float
        mtime: coarse-granularity filesystems can tick twice in one
        timestamp; (mtime_ns, size) closes that window — r12 advice)."""
        raise NotImplementedError

    def glob(self, pattern: str) -> list[str]:
        """Paths matching a glob pattern (replay leftover sweeps)."""
        raise NotImplementedError

    def has_files(self, path: str, suffix: str) -> bool:
        """True iff the tree under ``path`` holds a file ending in
        ``suffix`` (guards reads of possibly-empty segment writes)."""
        raise NotImplementedError

    # -- atomic directory publish (r14 verdict item 2) -------------------
    #
    # The one rename-shaped commit left on the per-batch path was the
    # staged-segment publish (genstore.publish_segment /
    # fold_into_segment): stage a directory invisibly, commit it
    # atomically at ``final``. Expressed as its own seam operation, each
    # implementation commits the way its namespace is good at:
    #
    # - POSIX (this default): stage in a dot-prefixed sibling dir,
    #   commit by ONE atomic os.rename — free, and exactly the protocol
    #   the engine always used;
    # - CAS (override below): mask ``final`` with a pending marker and
    #   stage IN PLACE at the final name — the commit is one atomic
    #   marker DELETE and **no payload ever moves**, where routing the
    #   same staging through ``rename`` cost a driver-side copy of
    #   every object in every micro-batch's segment.
    #
    # Contract: nothing is visible at ``final`` to any OTHER reader
    # between begin and commit (the publishing thread may read its own
    # staging); commit is atomic (readers see nothing, or the complete
    # tree); a crash at any point leaves ``final`` either absent/old or
    # complete, and a retried begin_publish at the same ``final`` GCs
    # the garbage. With ``overwrite=True`` (replay of a crashed batch —
    # callers only pass it under the name-keyed overwrite contract,
    # where the half-written target has no committed readers) the old
    # content at ``final`` is dropped: at commit time here, at begin
    # time on CAS (in-place staging needs the slot) — so an aborted
    # overwrite-publish restores the old content here but leaves
    # ``final`` absent on CAS, both states a replay converges from.

    def begin_publish(self, final: str, *, overwrite: bool = False) -> str:
        """Start an atomic directory publish at ``final``; returns the
        STAGING path the caller writes the full tree into."""
        final = final.rstrip("/")
        if not overwrite and self.exists(final):
            raise OSError(f"publish target exists: {final}")
        parent, name = os.path.split(final)
        return os.path.join(parent, f".staging-{name}-{uuid.uuid4().hex[:8]}")

    def commit_publish(
        self, final: str, staging: str, *, overwrite: bool = False
    ) -> None:
        """Atomically make the staged tree THE content of ``final``."""
        final = final.rstrip("/")
        if overwrite and self.exists(final):
            self.rmtree(final)  # replay overwrite (name-keyed contract)
        self.rename(staging, final)

    def abort_publish(self, final: str, staging: str) -> None:
        """Drop the staged tree; ``final`` is untouched (or absent on
        implementations that stage in place)."""
        if staging.rstrip("/") != final.rstrip("/"):
            self.rmtree(staging)


class LocalStoreIO(StoreIO):
    """POSIX implementation — the current default everywhere.

    Atomicity provided by the filesystem: ``os.replace`` (write_atomic),
    tmp + ``os.link`` (create_exclusive — link refuses an existing
    target atomically, so exactly one creator wins and the content is
    fully written before it becomes visible), ``os.rename`` (rename).
    """

    def read_text(self, path: str) -> str:
        # bare open(path) on purpose: the enforce_law race tests simulate
        # a visibility race by intercepting exactly this call shape
        with open(path) as fh:
            return fh.read()

    def write_atomic(self, path: str, text: str) -> None:
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(text)
            # POWER-loss safety, not just process-crash safety (r13
            # advice): without the fsync, os.replace can commit a
            # rename whose data blocks never hit disk, leaving a
            # zero-length pointer after a crash — torn, which the
            # module contract forbids. These are tiny files at batch
            # cadence; the fsync cost is noise.
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        self._fsync_dir(os.path.dirname(path))

    @staticmethod
    def _fsync_dir(dirpath: str) -> None:
        # persist the rename itself; some filesystems refuse directory
        # fsync (it is then redundant there), hence best-effort
        try:
            fd = os.open(dirpath or ".", os.O_RDONLY)
        except OSError:
            return
        try:
            os.fsync(fd)
        except OSError:
            pass
        finally:
            os.close(fd)

    def create_exclusive(self, path: str, text: str) -> tuple[bool, str]:
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(text)
        try:
            while True:
                try:
                    os.link(tmp, path)
                    return True, text
                except FileExistsError:
                    try:
                        return False, self.read_text(path)
                    except FileNotFoundError:
                        # the existing file vanished between the failed
                        # link and our read (a lock holder releasing) —
                        # retry the exclusive create rather than crash
                        # the contender (r13 review)
                        continue
        finally:
            os.unlink(tmp)

    def unlink(self, path: str) -> None:
        os.unlink(path)

    def unlink_if(self, path: str, token) -> bool:
        """Conditional delete on POSIX: claim-rename to a caller-unique
        path (atomic — exactly one concurrent breaker gets the inode),
        then verify the claimed inode's token. (mtime_ns, size) are
        inode properties, preserved by rename, so the token still
        identifies the exact file version measured earlier. On
        mismatch — the path held a FRESH file by the time we claimed
        it — restore it via ``os.link`` (refuses an existing target,
        so a contender's even-fresher lock is never clobbered), falling
        back to an ``O_EXCL`` create-and-copy on filesystems without
        hard-link support (some NFS/FUSE mounts — r14 advice: the old
        bare ``pass`` silently DISCARDED the fresh holder's lock
        there).
        Residual hazards, documented: between our rename and the
        restoring link, the path is briefly absent; a contender that
        exclusive-creates in that microsecond window orphans the fresh
        holder's file (its heartbeat then stops quietly) — that needs
        the breaker to misfire on a lock that turned fresh within the
        same staleness check AND a third racer in the same window,
        strictly narrower than the unconditional-steal this method
        replaces. And a crash between the claim-rename and the unlink
        leaks the claim under its dot name; :func:`sweep_stale_claims`
        (called from the lock-acquisition wait loop) age-gates those
        away like every other tmp sweep (r14 advice)."""
        claim = path + f".claim.{uuid.uuid4().hex[:8]}"
        try:
            os.rename(path, claim)
        except OSError:
            return False  # vanished or already claimed by another breaker
        try:
            st = os.stat(claim)
            if (st.st_mtime_ns, st.st_size) == token:
                os.unlink(claim)
                return True
            # fresh file stolen — put it back without clobbering
            try:
                os.link(claim, path)
            except OSError:
                self._restore_without_link(claim, path)
            os.unlink(claim)
            return False
        except OSError:
            return False

    @staticmethod
    def _restore_without_link(claim: str, path: str) -> None:
        """No hard links on this filesystem: restore the claimed file's
        content through a non-clobbering ``O_EXCL`` create. A contender
        that re-created the path first wins (its lock is fresher); the
        restored copy is a new inode, so the fresh holder's token
        changes — its next conditional op re-reads, same as after any
        legitimate concurrent re-put."""
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except OSError:
            return  # a contender re-created the path first
        try:
            with open(claim, "rb") as rf:
                os.write(fd, rf.read())
        finally:
            os.close(fd)

    def file_size(self, path: str) -> int:
        if os.path.isdir(path):
            # getsize on a dir returns the inode size (4096) — a
            # meaningless answer for the contract's "size of a file";
            # raising matches the CAS port (r14 differential test)
            raise IsADirectoryError(path)
        return os.path.getsize(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def rename(self, src: str, dst: str) -> None:
        # POSIX rename silently replaces an EMPTY destination directory;
        # the contract (and the CAS port) refuses any existing dst for
        # a directory, so a publish never lands over a stray dir
        if (
            os.path.isdir(src)
            and os.path.lexists(dst)
            and not os.path.samefile(src, dst)
        ):
            raise FileExistsError(f"rename target exists: {dst}")
        os.rename(src, dst)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def touch(self, path: str) -> None:
        os.utime(path, None)

    def stat_token(self, path: str):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)

    def glob(self, pattern: str) -> list[str]:
        return _glob.glob(pattern)

    def has_files(self, path: str, suffix: str) -> bool:
        if not os.path.isdir(path):
            return False
        for _sub, _dirs, files in os.walk(path):
            if any(f.endswith(suffix) for f in files):
                return True
        return False


def sweep_stale_claims(
    lock_path: str, *, max_age_s: float = 3600.0, io: StoreIO | None = None
) -> None:
    """GC ``<lock>.claim.*`` leftovers of a breaker that CRASHED between
    :meth:`LocalStoreIO.unlink_if`'s claim-rename and its unlink (r14
    advice: the displaced lock lived on forever under a dot name no
    sweep covered). Age-gated like every other tmp sweep: a live
    breaker holds its claim for microseconds, so anything older belongs
    to a dead process. Run from the lock acquisition path — the only
    place claims are born. Best-effort: claims are a namespace leak,
    never a correctness hazard (the lock path itself was already freed
    by the claim-rename)."""
    io = io or storeio_for(lock_path)
    parent, name = os.path.split(lock_path)
    now = time.time()
    try:
        entries = io.listdir(parent)
    except OSError:
        return
    for e in entries:
        if not e.startswith(name + ".claim."):
            continue
        full = os.path.join(parent, e)
        try:
            if now - io.mtime(full) > max_age_s:
                io.unlink(full)
        except OSError:
            pass  # another sweeper won the race


def _glob_regex(pattern: str):
    # glob semantics, not fnmatch: '*'/'?' never cross a '/'
    # (fnmatch's '*' is '.*', which made patterns like
    # 'scrape_date=*/batch_id=b0' match nested paths LocalStoreIO's
    # glob.glob would never return — r13 review)
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("[^/]*")
        elif ch == "?":
            out.append("[^/]")
        else:
            out.append(re.escape(ch))
    return re.compile("^" + "".join(out) + "$")


# --------------------------------------------------------------------------
# CAS-backed StoreIO (r13 verdict item 1): the commit-metadata protocol on
# conditional-put primitives ONLY — what an object-store deployment has.
# --------------------------------------------------------------------------


#: put_if/delete_if precondition: the key must be absent
ABSENT = object()
#: put_if/delete_if precondition: unconditional (a plain PUT / DELETE)
ANY = object()


class CASBackend:
    """The ONLY primitives a CAS StoreIO may use — by construction there
    is no rename and no hard link on this interface, so any protocol
    built on it runs unchanged on a real conditional-put service:

    - ``get``           → S3 GetObject / DynamoDB GetItem
    - ``put_if(ABSENT)`` → S3 conditional write ``If-None-Match: *``
      (GA since 2024) / DynamoDB ``attribute_not_exists`` condition /
      etcd ``Txn(create_revision == 0)``
    - ``put_if(token)``  → S3 ``If-Match: <etag>`` / DynamoDB
      ``ConditionExpression: version = :tok`` / etcd mod-revision Txn
    - ``delete_if``      → same conditions on DeleteObject/DeleteItem
    - ``list_prefix``    → S3 ListObjectsV2 (strongly consistent since
      2020) / DynamoDB Query on a prefix key

    Tokens are backend-assigned versions (ETag / version attribute /
    mod_revision): every successful put yields a NEW token, and a
    conditional op succeeds only against the exact version it names."""

    def get(self, key: str):
        """``(value, token)`` or ``None`` if absent."""
        raise NotImplementedError

    def put_if(self, key: str, value: str, expected) -> object | None:
        """Write ``value`` iff the precondition holds: ``expected`` is
        ``ABSENT`` (key must not exist), ``ANY`` (unconditional), or a
        token from a prior get/put (key must still be that version).
        Returns the new token, or ``None`` if the precondition failed.
        The check-and-write is ONE atomic step."""
        raise NotImplementedError

    def delete_if(self, key: str, expected) -> bool:
        """Delete ``key`` iff the precondition holds (``ANY`` or a
        token). Returns True iff this call removed the key."""
        raise NotImplementedError

    def list_prefix(self, prefix: str) -> list[str]:
        """All keys starting with ``prefix`` (consistent listing)."""
        raise NotImplementedError

    def copy_object(self, src_key: str, dst_key: str):
        """OPTIONAL server-side copy (S3 CopyObject / DynamoDB
        transactional read+write inside the service): duplicate
        ``src_key``'s value at ``dst_key`` without the bytes passing
        through the caller (r14 verdict item 5 — the directory-rename
        catalog move read every record to the driver and re-put it).
        Returns ``dst_key``'s new token, or ``None`` if ``src_key`` is
        absent. Backends without a native copy may leave this
        unimplemented; callers must fall back to get+put."""
        raise NotImplementedError


class MemCASBackend(CASBackend):
    """In-memory CAS service for tests: a lock makes each conditional
    op one indivisible step — exactly the atomicity DynamoDB/etcd/S3
    conditional writes provide, and nothing more."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._kv: dict[str, tuple[str, int]] = {}
        self._seq = 0

    def get(self, key: str):
        with self._lock:
            return self._kv.get(key)

    def put_if(self, key: str, value: str, expected):
        with self._lock:
            cur = self._kv.get(key)
            if expected is ABSENT and cur is not None:
                return None
            if expected is not ABSENT and expected is not ANY:
                if cur is None or cur[1] != expected:
                    return None
            self._seq += 1
            self._kv[key] = (value, self._seq)
            return self._seq

    def delete_if(self, key: str, expected) -> bool:
        with self._lock:
            cur = self._kv.get(key)
            if cur is None:
                return False
            if expected is not ANY and cur[1] != expected:
                return False
            del self._kv[key]
            return True

    def list_prefix(self, prefix: str) -> list[str]:
        with self._lock:
            return sorted(k for k in self._kv if k.startswith(prefix))

    def copy_object(self, src_key: str, dst_key: str):
        # routed through get/put_if (NOT one step under the lock) so
        # the crash-injection subclasses see the same mutation points a
        # real service's copy exposes
        got = self.get(src_key)
        if got is None:
            return None
        return self.put_if(dst_key, got[0], ANY)


import json as _json


class CASStoreIO(StoreIO):
    """The five-method commit surface on conditional-put primitives —
    the object-store port the loud guard in :func:`storeio_for` names.
    NO rename, NO hard link, NO os.replace anywhere in this class (the
    backend has none by construction; the physical plane below uses
    only GET/PUT/DELETE/LIST-shaped calls) — grep-auditable, and
    tests/test_storeio.py poisons the POSIX primitives process-wide
    during a full curate-maintain cycle to prove it.

    Architecture (how a real S3+DynamoDB deployment would look):

    - The CATALOG (the CAS backend) is the namespace authority for all
      commit metadata: pointer files, commit markers, manifests, laws,
      locks live as catalog entries keyed by path. ``write_atomic`` is
      one unconditional PUT (readers see the old or the new object —
      object-store PUT semantics); ``create_exclusive`` is a
      put-if-absent; ``unlink_if`` is a token-conditional delete
      (NATIVE here — the POSIX claim-rename dance disappears).
    - The PHYSICAL plane (Spark-written parquet) stays where Spark put
      it; the catalog only governs VISIBILITY. ``listdir``/``exists``/
      ``glob`` answer from catalog ∪ physical listing, minus anything
      under a PENDING marker.
    - The staged-segment publish is RENAME-FREE (r14 verdict item 2):
      ``begin_publish`` masks the final name with a pending marker and
      the caller stages IN PLACE; ``commit_publish`` is one atomic
      marker DELETE — no payload ever moves. Every per-batch append
      and every maintain fold commits this way.
    - Directory ``rename`` remains for legacy callers (the history
      day-partition swap, whose compaction must read the old tree
      while writing the new): set a pending marker on dst (PUT), copy
      payloads (``CASBackend.copy_object`` server-side where the
      backend provides it; :meth:`_copy_payloads` GET+PUT fallback),
      move the catalog subtree, delete src, then DELETE THE PENDING
      MARKER — that delete is the atomic commit: until it, every seam
      reader un-sees dst (engine readers discover
      segments/generations through the seam before Spark-reading
      them, so a half-copied dst is invisible); after it, dst is
      fully populated. A crash mid-copy leaves the marker, and the
      next rename attempt GCs the garbage first — same crash
      discipline as the genstore fold loop.

    Scheme paths (``cas-test://…``) run catalog-only; plain local
    paths registered via :func:`register_prefix` run hybrid (catalog
    authority + local payloads) so a full Spark pipeline can execute
    against it in tests."""

    _PENDING = "x:"  # pending-rename markers
    _PATH = "p:"  # path records: JSON {"k": "f"|"d", "t": text, "m": mtime}

    def __init__(self, backend: CASBackend) -> None:
        self._kv = backend
        # paths THIS THREAD is mid-publishing in place (begin_publish):
        # the publisher must read/list its own staged tree through the
        # seam (manifest writes, the stats-row publish), while the
        # pending marker keeps it invisible to every other thread and
        # process. Thread-local, so concurrent probe threads in the
        # same process still un-see the staging — the r14
        # probe-under-maintenance guarantee.
        self._publishing = threading.local()

    def _own_publish_roots(self) -> tuple:
        return getattr(self._publishing, "roots", ())

    def _push_publish_root(self, final: str) -> None:
        self._publishing.roots = self._own_publish_roots() + (final,)

    def _pop_publish_root(self, final: str) -> None:
        roots = list(self._own_publish_roots())
        if final in roots:
            roots.remove(final)
        self._publishing.roots = tuple(roots)

    # -- key/record helpers ----------------------------------------------
    @staticmethod
    def _norm(path: str) -> str:
        return path.rstrip("/")

    def _rec(self, path: str):
        """(record_dict, token) or None — catalog lookup, mask-blind."""
        got = self._kv.get(self._PATH + path)
        if got is None:
            return None
        return _json.loads(got[0]), got[1]

    def _put_rec(self, path: str, rec: dict, expected):
        return self._kv.put_if(self._PATH + path, _json.dumps(rec), expected)

    def _masked(self, path: str) -> bool:
        """True iff ``path`` or any ancestor has a pending-rename
        marker — mid-publish trees are invisible to every reader,
        except the publishing thread's own in-flight roots."""
        own = self._own_publish_roots()
        parts = path.split("/")
        for i in range(1, len(parts) + 1):
            pre = "/".join(parts[:i])
            if pre and pre not in own and (
                self._kv.get(self._PENDING + pre) is not None
            ):
                return True
        return False

    @staticmethod
    def _phys(path: str) -> bool:
        # physical payload plane exists only for plain local paths
        # (prefix registration); scheme paths are catalog-only
        return _SCHEME_RE.match(path) is None

    def _children(self, path: str) -> set[str]:
        out: set[str] = set()
        prefix = self._PATH + path + "/"
        for key in self._kv.list_prefix(prefix):
            out.add(key[len(prefix):].split("/", 1)[0])
        return out

    def _now(self) -> float:
        return time.time()

    # -- reads -------------------------------------------------------------
    def read_text(self, path: str) -> str:
        path = self._norm(path)
        got = self._rec(path)
        if got is not None and not self._masked(path):
            rec, _tok = got
            if rec["k"] == "f":
                return rec["t"]
            raise IsADirectoryError(path)
        if self._phys(path) and os.path.isfile(path):
            with open(path) as fh:  # data-plane GET
                return fh.read()
        raise FileNotFoundError(path)

    def listdir(self, path: str) -> list[str]:
        path = self._norm(path)
        if self._masked(path):
            raise FileNotFoundError(path)
        names: set[str] = set()
        exists = False
        got = self._rec(path)
        if got is not None and got[0]["k"] == "d":
            exists = True
        kids = self._children(path)
        if kids:
            exists = True
            names |= kids
        if self._phys(path) and os.path.isdir(path):
            exists = True
            names |= set(os.listdir(path))
        if not exists:
            raise FileNotFoundError(path)
        # one marker listing instead of one get per ancestor per child
        # (r14 verdict: O(N·depth) backend round-trips per listdir);
        # ``path``'s own ancestor chain was already cleared above
        markers = self._pending_under(path + "/")
        return sorted(n for n in names if path + "/" + n not in markers)

    def isdir(self, path: str) -> bool:
        path = self._norm(path)
        if self._masked(path):
            return False
        got = self._rec(path)
        if got is not None:
            return got[0]["k"] == "d"
        if self._children(path):
            return True
        return self._phys(path) and os.path.isdir(path)

    def exists(self, path: str) -> bool:
        path = self._norm(path)
        if self._masked(path):
            return False
        if self._rec(path) is not None or self._children(path):
            return True
        return self._phys(path) and os.path.exists(path)

    def mtime(self, path: str) -> float:
        path = self._norm(path)
        got = self._rec(path)
        if got is not None and not self._masked(path):
            return float(got[0]["m"])
        if self._phys(path) and os.path.exists(path):
            return os.path.getmtime(path)
        raise FileNotFoundError(path)

    def stat_token(self, path: str):
        path = self._norm(path)
        got = self._rec(path)
        if got is not None and not self._masked(path):
            return got[1]  # the backend version IS the token (ETag)
        if self._phys(path) and os.path.exists(path):
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        raise FileNotFoundError(path)

    def file_size(self, path: str) -> int:
        path = self._norm(path)
        got = self._rec(path)
        if got is not None and not self._masked(path):
            if got[0]["k"] != "f":
                raise IsADirectoryError(path)
            return len(got[0]["t"])
        if self._phys(path) and os.path.isfile(path):
            return os.path.getsize(path)
        raise FileNotFoundError(path)

    @staticmethod
    def _fixed_prefix(pattern: str) -> str:
        """Longest wildcard-free prefix of a glob pattern — the listing
        bound (r14 verdict item 1: the old full-catalog
        ``list_prefix(self._PATH)`` ran on EVERY history micro-batch
        append via the replay-leftover GC, O(total catalog keys) and
        one full ListObjects per batch on a real backend)."""
        cut = len(pattern)
        for ch in "*?":
            i = pattern.find(ch)
            if i != -1:
                cut = min(cut, i)
        return pattern[:cut]

    def _pending_under(self, prefix: str) -> set[str]:
        """All paths carrying a pending-rename marker at or under the
        given string prefix — ONE backend listing, so per-candidate
        mask checks become set lookups instead of one ``get`` per
        ancestor per name (the r14-verdict ``_masked`` round-trip
        amplification). The calling thread's own in-flight publish
        roots are excluded, matching :meth:`_masked`."""
        own = self._own_publish_roots()
        return {
            k[len(self._PENDING):]
            for k in self._kv.list_prefix(self._PENDING + prefix)
        } - set(own)

    @staticmethod
    def _masked_by(path: str, base: str, markers: set[str]) -> bool:
        """True iff ``path`` or an ancestor STRICTLY below ``base`` is
        in ``markers`` (the caller has already cleared ``base`` and its
        ancestors with one :meth:`_masked` walk)."""
        if not markers:
            return False
        parts = path.split("/")
        for i in range(1, len(parts) + 1):
            pre = "/".join(parts[:i])
            if len(pre) > len(base) and pre in markers:
                return True
        return False

    def glob(self, pattern: str) -> list[str]:
        pattern = self._norm(pattern)
        rx = _glob_regex(pattern)
        fixed = self._fixed_prefix(pattern)
        names: set[str] = set()
        # prefix-bounded: list only keys under the pattern's fixed
        # prefix — O(result namespace), not O(catalog)
        for key in self._kv.list_prefix(self._PATH + fixed):
            names.add(key[len(self._PATH):])
        if self._phys(pattern):
            names |= set(_glob.glob(pattern))
        candidates = sorted(p for p in names if rx.match(p))
        if not candidates:
            return []
        # shared ancestors (everything at or above the fixed prefix's
        # directory) are checked ONCE; every candidate's remaining
        # ancestors start with the fixed prefix, so one marker listing
        # under it covers them all
        base = fixed.rsplit("/", 1)[0] if "/" in fixed else ""
        if base and self._masked(base):
            return []
        markers = self._pending_under(fixed)
        return [p for p in candidates if not self._masked_by(p, base, markers)]

    def has_files(self, path: str, suffix: str) -> bool:
        path = self._norm(path)
        if self._masked(path):
            return False
        prefix = self._PATH + path + "/"
        markers: set[str] | None = None  # fetched once, on first hit
        for key in self._kv.list_prefix(prefix):
            p = key[len(self._PATH):]
            if p.endswith(suffix):
                if markers is None:
                    markers = self._pending_under(path + "/")
                if self._masked_by(p, path, markers):
                    continue
                got = self._rec(p)
                if got is not None and got[0]["k"] == "f":
                    return True
        if self._phys(path) and os.path.isdir(path):
            for _root, _dirs, files in os.walk(path):
                if any(f.endswith(suffix) for f in files):
                    return True
        return False

    # -- writes --------------------------------------------------------------
    def _require_parent(self, path: str) -> None:
        # MASK-BLIND on purpose: masking is a reader-visibility concept;
        # a writer staging under its own pending marker (in-place
        # publish) must be able to create files there, and the
        # single-maintainer contract means nobody else writes under a
        # foreign mid-publish tree anyway
        parent = path.rsplit("/", 1)[0] if "/" in path else ""
        if not parent or parent.endswith(":/"):
            return
        got = self._rec(parent)
        if got is not None:
            if got[0]["k"] == "f":
                raise NotADirectoryError(parent)
            return
        if self._children(parent):
            return
        if self._phys(parent) and os.path.isdir(parent):
            return
        raise FileNotFoundError(parent)

    def write_atomic(self, path: str, text: str) -> None:
        path = self._norm(path)
        got = self._rec(path)
        if got is not None and got[0]["k"] == "d":
            raise IsADirectoryError(path)
        if got is None:
            self._require_parent(path)
        # one unconditional PUT — object-store PUT is atomic for readers
        self._put_rec(path, {"k": "f", "t": text, "m": self._now()}, ANY)

    def create_exclusive(self, path: str, text: str) -> tuple[bool, str]:
        path = self._norm(path)
        while True:
            got = self._rec(path)
            if got is not None:
                if got[0]["k"] == "d":
                    raise IsADirectoryError(path)
                return False, got[0]["t"]
            self._require_parent(path)
            tok = self._put_rec(
                path, {"k": "f", "t": text, "m": self._now()}, ABSENT
            )
            if tok is not None:
                return True, text
            # lost the put-if-absent race: loop to read the winner
            # (or retry if the winner already released)

    def unlink(self, path: str) -> None:
        path = self._norm(path)
        got = self._rec(path)
        if got is not None:
            if got[0]["k"] == "d":
                raise IsADirectoryError(path)
            if self._kv.delete_if(self._PATH + path, ANY):
                return
            raise FileNotFoundError(path)
        if self._phys(path) and os.path.isfile(path):
            os.unlink(path)  # data-plane DELETE
            return
        raise FileNotFoundError(path)

    def unlink_if(self, path: str, token) -> bool:
        path = self._norm(path)
        got = self._rec(path)
        if got is not None:
            # NATIVE conditional delete — the whole POSIX claim-rename
            # dance collapses into the backend's one atomic step
            return self._kv.delete_if(self._PATH + path, token)
        if self._phys(path) and os.path.isfile(path):
            try:
                st = os.stat(path)
                if (st.st_mtime_ns, st.st_size) != token:
                    return False
                os.unlink(path)
                return True
            except OSError:
                return False
        return False

    def makedirs(self, path: str) -> None:
        path = self._norm(path)
        parts = path.split("/")
        for i in range(1, len(parts) + 1):
            pre = "/".join(parts[:i])
            if not pre or pre.endswith(":") or pre.endswith(":/"):
                continue  # scheme-root components ("cas-test:", "…:/")
            got = self._rec(pre)
            if got is not None and got[0]["k"] == "f":
                # POSIX parity: a file on the path makes makedirs raise
                raise FileExistsError(pre)
            if got is None:
                # put-if-absent so a concurrent mkdir keeps the original
                # mtime (exist_ok semantics)
                self._put_rec(pre, {"k": "d", "m": self._now()}, ABSENT)
        if self._phys(path):
            os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        path = self._norm(path)
        got = self._rec(path)
        if got is not None and got[0]["k"] == "f":
            # POSIX parity: shutil.rmtree on a FILE is a no-op under
            # ignore_errors semantics
            return
        for key in self._kv.list_prefix(self._PATH + path + "/"):
            self._kv.delete_if(key, ANY)
        self._kv.delete_if(self._PATH + path, ANY)
        if self._phys(path):
            shutil.rmtree(path, ignore_errors=True)
        for key in self._kv.list_prefix(self._PENDING + path + "/"):
            self._kv.delete_if(key, ANY)
        # the marker on ``path`` ITSELF dies too (r14 advice: a crashed
        # publish destination later rmtree'd — e.g. an unpointed gen
        # dir GC — left its own marker in the catalog forever, and
        # ``_masked`` then permanently hid any future entry at that
        # exact path). Deleted LAST: a crash mid-rmtree leaves the
        # half-deleted tree still masked.
        self._kv.delete_if(self._PENDING + path, ANY)

    def touch(self, path: str) -> None:
        path = self._norm(path)
        while True:
            got = self._rec(path)
            if got is None:
                break
            rec, tok = got
            rec["m"] = self._now()
            # token-conditional (r14 advice): an unconditional put here
            # was a get→put read-modify-write that could resurrect
            # STALE content — a lock broken and re-created by a new
            # holder between our read and write got overwritten with
            # the old holder's content plus a fresh mtime, making both
            # holders look live. On precondition failure re-read and
            # retry against the CURRENT file (os.utime refreshes
            # whatever the path holds now — by-path semantics).
            if self._put_rec(path, rec, tok) is not None:
                return
        if self._phys(path) and os.path.exists(path):
            os.utime(path, None)
            return
        raise FileNotFoundError(path)

    def _copy_payloads(self, src: str, dst: str) -> None:
        """Physical tree copy with GET/PUT-shaped calls only — the
        documented FALLBACK for directory ``rename`` of hybrid-mode
        payload trees (a real port uses server-side CopyObject;
        catalog records already copy via ``CASBackend.copy_object``).
        UNREACHABLE from the streaming ingest + maintain cycle since
        the publish seam landed (r14 verdict item 2 — pinned by
        tests/test_cas_port.py::test_cas_cycle_moves_zero_payload_bytes_through_driver);
        only legacy direct renames (the history day-partition swap)
        can reach it. Local writes go direct to the final name —
        standing in for an atomic object PUT; the pending marker on
        ``dst`` keeps the half-copied tree invisible to every seam
        reader until the commit."""
        os.makedirs(dst, exist_ok=True)
        for root, dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            target = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(target, exist_ok=True)
            for f in files:
                with open(os.path.join(root, f), "rb") as rf:
                    data = rf.read()
                with open(os.path.join(target, f), "wb") as wf:
                    wf.write(data)

    def rename(self, src: str, dst: str) -> None:
        src, dst = self._norm(src), self._norm(dst)
        src_got = self._rec(src)
        src_phys_file = self._phys(src) and os.path.isfile(src)
        src_is_file = (
            src_got[0]["k"] == "f" if src_got is not None else src_phys_file
        )
        src_exists = (
            src_got is not None
            or src_phys_file
            or bool(self._children(src))
            or (self._phys(src) and os.path.isdir(src))
        )
        if not src_exists:
            raise FileNotFoundError(src)
        if src == dst:
            return  # POSIX: same-path rename is a successful no-op
        if dst.startswith(src + "/"):
            # POSIX EINVAL: cannot move a directory into itself
            raise OSError(f"rename into own subtree: {src} -> {dst}")
        dparent = dst.rsplit("/", 1)[0] if "/" in dst else ""
        if dparent and not dparent.endswith(":/"):
            pgot = self._rec(dparent)
            if pgot is not None and pgot[0]["k"] == "f":
                raise NotADirectoryError(dparent)
            if not self.isdir(dparent):
                raise FileNotFoundError(dparent)

        if src_is_file:
            if self.isdir(dst):
                raise IsADirectoryError(dst)
            if src_got is not None:
                rec, tok = src_got
                # dst FIRST, then the conditional delete of src (r14
                # advice): POSIX rename leaves src or dst, never
                # neither — the old delete-then-put order lost the file
                # outright on a crash between the two ops (and this is
                # the per-segment stats-row publish path). Racers read
                # the same (rec, tok) and put identical content at dst;
                # exactly one wins the delete, the loser raises exactly
                # as a second rename of a vanished src would.
                self._put_rec(dst, rec, ANY)  # replace-if-exists (POSIX)
                if not self._kv.delete_if(self._PATH + src, tok):
                    raise FileNotFoundError(src)
            else:
                with open(src, "rb") as rf:
                    data = rf.read()
                with open(dst, "wb") as wf:  # atomic-PUT stand-in
                    wf.write(data)
                os.unlink(src)
            return

        # directory publish
        if self._kv.get(self._PENDING + dst) is not None:
            # garbage from a CRASHED prior publish attempt: the marker
            # proves no reader ever saw dst, so clearing it is safe
            if self._phys(dst):
                shutil.rmtree(dst, ignore_errors=True)
            for key in self._kv.list_prefix(self._PATH + dst + "/"):
                self._kv.delete_if(key, ANY)
            self._kv.delete_if(self._PATH + dst, ANY)
        elif self.exists(dst):
            raise OSError(f"rename target exists: {dst}")
        self._kv.put_if(self._PENDING + dst, "pending", ANY)
        if self._phys(src) and os.path.isdir(src):
            self._copy_payloads(src, dst)
        # catalog subtree: copy then delete (src first has no
        # readers by the single-maintainer contract; dst is masked)
        moves = [(src, dst)]
        for key in self._kv.list_prefix(self._PATH + src + "/"):
            p = key[len(self._PATH):]
            moves.append((p, dst + p[len(src):]))
        for sp, dp in moves:
            try:
                # server-side: the record's bytes never cross the driver
                self._kv.copy_object(self._PATH + sp, self._PATH + dp)
            except NotImplementedError:
                got = self._rec(sp)
                if got is not None:
                    self._put_rec(dp, got[0], ANY)
        if self._rec(dst) is None:
            self._put_rec(dst, {"k": "d", "m": self._now()}, ANY)
        for sp, _dp in moves:
            self._kv.delete_if(self._PATH + sp, ANY)
        if self._phys(src):
            shutil.rmtree(src, ignore_errors=True)
        # THE COMMIT — deliberately NOT in a finally: an exception
        # anywhere above must leave the pending marker in place, so the
        # half-published dst stays invisible and the next rename
        # attempt GCs it (a finally here would unmask a TORN dst on the
        # very failure the marker exists to cover — caught by the
        # crash-injection test before it could ship)
        self._kv.delete_if(self._PENDING + dst, ANY)

    # -- atomic directory publish: the rename-free commit ---------------
    def begin_publish(self, final: str, *, overwrite: bool = False) -> str:
        """Stage IN PLACE at ``final`` under a pending marker (r14
        verdict item 2): the staging path IS the final path, the marker
        keeps the half-built tree invisible to every other reader, and
        :meth:`commit_publish` is one atomic marker DELETE — **zero
        payload movement**, where routing the staged-segment commit
        through :meth:`rename` copied every object of every
        micro-batch's segment through the driver
        (:meth:`_copy_payloads`). Same masking protocol the directory
        ``rename`` already proved under exhaustive crash injection:
        a crash at any point leaves the marker, so ``final`` stays
        invisible and the next ``begin_publish`` GCs the garbage."""
        final = self._norm(final)
        pending = self._kv.get(self._PENDING + final) is not None
        if not pending and not overwrite and self.exists(final):
            raise OSError(f"publish target exists: {final}")
        self._kv.put_if(self._PENDING + final, "pending", ANY)
        # clear crashed-publish garbage / the replayed batch's old
        # content while masked. rmtree drops the path's own marker LAST,
        # so a crash mid-clear leaves the tree still masked; the brief
        # marker-absent instant after a completed clear exposes only an
        # already-empty path (the same absent state a POSIX replay's
        # rmtree-then-rename crash window leaves).
        if pending or overwrite:
            self.rmtree(final)
        self._kv.put_if(self._PENDING + final, "pending", ANY)
        self._push_publish_root(final)
        return final

    def commit_publish(
        self, final: str, staging: str, *, overwrite: bool = False
    ) -> None:
        final = self._norm(final)
        self._pop_publish_root(final)
        # THE COMMIT: one atomic conditional-put-backend DELETE — until
        # it, every seam reader un-sees final; after it, the tree is
        # fully staged (the caller wrote it in place)
        self._kv.delete_if(self._PENDING + final, ANY)

    def abort_publish(self, final: str, staging: str) -> None:
        final = self._norm(final)
        self._pop_publish_root(final)
        # content first, marker last (inside rmtree) — a crash mid-abort
        # leaves the partial tree still masked
        self.rmtree(final)


_LOCAL = LocalStoreIO()
_SCHEMES: dict[str, StoreIO] = {}
_PREFIXES: dict[str, StoreIO] = {}


def register_scheme(scheme: str, io: StoreIO) -> None:
    """Bind a URI scheme to a StoreIO implementation (tests register
    ``cas-test``; a real object-store port would register
    ``s3`` with :class:`CASStoreIO` over a DynamoDB/etcd backend and
    thereby lift the guard)."""
    _SCHEMES[scheme.lower()] = io


def unregister_scheme(scheme: str) -> None:
    _SCHEMES.pop(scheme.lower(), None)


def register_prefix(prefix: str, io: StoreIO) -> None:
    """Bind a PLAIN-path prefix to a StoreIO implementation. This is
    how the CAS port runs under a full Spark pipeline in tests: the
    data plane keeps plain local paths (Spark reads/writes them
    directly), while every commit-metadata call under the prefix
    resolves to the registered implementation — the same split a real
    S3 deployment has (parquet on s3://, commit metadata in the
    conditional-put catalog)."""
    _PREFIXES[prefix.rstrip("/")] = io


def unregister_prefix(prefix: str) -> None:
    _PREFIXES.pop(prefix.rstrip("/"), None)


def storeio_for(path: str) -> StoreIO:
    """Resolve the StoreIO for a store path. Plain paths (the POSIX
    default) get :class:`LocalStoreIO`; a registered scheme gets its
    implementation; any OTHER scheme raises — loudly, naming the
    portability contract — instead of silently running rename-based
    commits on a filesystem that has no atomic rename."""
    m = _SCHEME_RE.match(path)
    if m is None:
        if _PREFIXES:  # rare: only tests/ports register prefixes
            for pre in sorted(_PREFIXES, key=len, reverse=True):
                if path == pre or path.startswith(pre + "/"):
                    return _PREFIXES[pre]
        return _LOCAL
    scheme = m.group(1).lower()
    if scheme in _SCHEMES:
        return _SCHEMES[scheme]
    if scheme in _REMOTE_SCHEMES:
        raise RuntimeError(
            f"store path {path!r} is on {scheme}://, which has no atomic "
            "rename / exclusive-create / hard-link primitives — the "
            "commit-metadata protocol (pointer swaps, commit markers, "
            "law bootstrap) would run without its atomicity guarantees "
            "and every crash-safety proof would be void. Register a "
            "StoreIO implementation backed by a compare-and-swap "
            "primitive (e.g. DynamoDB/etcd/ZooKeeper conditional put) "
            "via plans.storeio.register_scheme, or keep store metadata "
            "on a shared POSIX filesystem. Data-plane parquet paths are "
            "unaffected — only store METADATA needs this contract."
        )
    raise RuntimeError(
        f"store path {path!r} has unrecognized scheme {scheme}://; pass a "
        "plain filesystem path, or register a StoreIO implementation for "
        "the scheme via plans.storeio.register_scheme"
    )

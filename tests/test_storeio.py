"""The commit-metadata seam (plans/storeio.py) tested against BOTH
implementations: the POSIX default and the CAS port, whose catalog-only
form over ``MemCASBackend`` is the in-memory fake. The fake
runs the genstore primitives end-to-end — proving the callers depend
only on the StoreIO contract (atomic publish, exclusive create, atomic
rename), not on the POSIX filesystem behind it — and the non-local-URI
guard is the loud failure the 100 TB portability contract requires.
No Spark session."""

from __future__ import annotations

import os
import threading

import pytest

from adsb_clickhouse_spark.plans import genstore as G
from adsb_clickhouse_spark.plans.storeio import (
    ANY,
    CASStoreIO,
    LocalStoreIO,
    MemCASBackend,
    register_scheme,
    storeio_for,
    unregister_scheme,
)


@pytest.fixture()
def cas():
    """Pure-catalog CAS StoreIO (r14 verdict item 1): the whole commit
    protocol on conditional-put primitives only — registered under a
    scheme so genstore call sites resolve it through storeio_for."""
    io = CASStoreIO(MemCASBackend())
    register_scheme("cas-test", io)
    yield io
    unregister_scheme("cas-test")


def _both(tmp_path):
    """Every implementation, every contract test: POSIX, the CAS port
    in hybrid mode (catalog authority + local
    payload plane under a plain path), and the CAS port catalog-only
    (scheme path — what a pure object-store namespace looks like)."""
    return [
        (LocalStoreIO(), str(tmp_path / "local")),
        (CASStoreIO(MemCASBackend()), str(tmp_path / "cas")),
        (CASStoreIO(MemCASBackend()), "cas-test://root"),
    ]


# -- interface contract, both implementations ---------------------------


def test_write_atomic_read_roundtrip(tmp_path):
    for io, root in _both(tmp_path):
        io.makedirs(root)
        p = os.path.join(root, "ptr")
        io.write_atomic(p, "gen-1")
        assert io.read_text(p) == "gen-1"
        io.write_atomic(p, "gen-2")  # replace, not append
        assert io.read_text(p) == "gen-2"
        # no tmp litter from the atomic publishes
        assert [e for e in io.listdir(root) if ".tmp." in e] == []


def test_read_missing_raises_oserror(tmp_path):
    for io, root in _both(tmp_path):
        with pytest.raises(OSError):
            io.read_text(os.path.join(root, "absent"))
        with pytest.raises(OSError):
            io.listdir(os.path.join(root, "absent-dir"))
        with pytest.raises(OSError):
            io.mtime(os.path.join(root, "absent"))
        with pytest.raises(OSError):
            io.unlink(os.path.join(root, "absent"))


def test_create_exclusive_single_winner(tmp_path):
    for io, root in _both(tmp_path):
        io.makedirs(root)
        p = os.path.join(root, "law")
        won, content = io.create_exclusive(p, "first")
        assert (won, content) == (True, "first")
        won2, content2 = io.create_exclusive(p, "second")
        assert (won2, content2) == (False, "first")  # loser reads winner
        assert io.read_text(p) == "first"
        assert [e for e in io.listdir(root) if ".tmp." in e] == []


def test_create_exclusive_concurrent_exactly_one_winner(tmp_path):
    """N threads race the exclusive create: exactly one wins and every
    loser reads the winner's content — the law-bootstrap/lock contract."""
    for io, root in _both(tmp_path):
        io.makedirs(root)
        p = os.path.join(root, "race")
        results: list[tuple[bool, str]] = []
        barrier = threading.Barrier(8)

        def attempt(i: int) -> None:
            barrier.wait()
            results.append(io.create_exclusive(p, f"law-{i}"))

        threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
        [t.start() for t in threads]
        [t.join() for t in threads]
        winners = [c for won, c in results if won]
        assert len(winners) == 1
        assert all(c == winners[0] for _won, c in results)
        assert io.read_text(p) == winners[0]


def test_rename_publishes_whole_tree_and_refuses_existing(tmp_path):
    for io, root in _both(tmp_path):
        staging = os.path.join(root, ".staging")
        io.makedirs(os.path.join(staging, "seg", "sub"))
        io.write_atomic(os.path.join(staging, "seg", "sub", "f"), "x")
        dst = os.path.join(root, "seg-final")
        io.rename(os.path.join(staging, "seg"), dst)
        assert io.read_text(os.path.join(dst, "sub", "f")) == "x"
        assert not io.exists(os.path.join(staging, "seg"))
        # a second staged dir cannot displace the committed one
        io.makedirs(os.path.join(staging, "seg2"))
        io.write_atomic(os.path.join(staging, "seg2", "f"), "y")
        with pytest.raises(OSError):
            io.rename(os.path.join(staging, "seg2"), dst)


def test_listdir_isdir_rmtree_glob(tmp_path):
    for io, root in _both(tmp_path):
        io.makedirs(os.path.join(root, "segments", "b0"))
        io.makedirs(os.path.join(root, "segments", "b1"))
        io.write_atomic(os.path.join(root, "segments", "_marker"), "")
        assert sorted(io.listdir(os.path.join(root, "segments"))) == [
            "_marker", "b0", "b1",
        ]
        assert io.isdir(os.path.join(root, "segments", "b0"))
        assert not io.isdir(os.path.join(root, "segments", "_marker"))
        assert sorted(io.glob(os.path.join(root, "segments", "b*"))) == [
            os.path.join(root, "segments", "b0"),
            os.path.join(root, "segments", "b1"),
        ]
        io.rmtree(os.path.join(root, "segments", "b0"))
        assert sorted(io.listdir(os.path.join(root, "segments"))) == [
            "_marker", "b1",
        ]
        io.rmtree(os.path.join(root, "segments", "never-there"))  # ignore_errors


def test_stat_token_changes_on_rewrite(tmp_path):
    """The cache-invalidation contract: same content or not, a rewrite
    yields a different token (the (mtime_ns, size) r12-advice fix needs
    at least size-or-time movement; the CAS port uses the backend
version)."""
    for io, root in _both(tmp_path):
        io.makedirs(root)
        p = os.path.join(root, "manifest")
        io.write_atomic(p, "a\n")
        t1 = io.stat_token(p)
        io.write_atomic(p, "a\nb\n")
        assert io.stat_token(p) != t1


def test_has_files_suffix(tmp_path):
    for io, root in _both(tmp_path):
        io.makedirs(os.path.join(root, "seg", "deep"))
        assert not io.has_files(os.path.join(root, "seg"), ".parquet")
        io.write_atomic(os.path.join(root, "seg", "deep", "part-0.parquet"), "")
        assert io.has_files(os.path.join(root, "seg"), ".parquet")
        assert not io.has_files(os.path.join(root, "absent"), ".parquet")


# -- genstore primitives through the fake ---------------------------------
# (the crash-discipline logic is pure StoreIO calls, and must hold on a
# namespace whose only atomic primitive is a conditional put)


@pytest.fixture(params=["cas"])
def fake(cas):
    return cas, "cas-test://stores"


def test_genstore_fold_loop_on_fake(fake):
    """The full generational fold loop (stage → manifest → swap → GC)
    against the fakes: the crash-discipline logic is pure StoreIO
    calls."""
    io, root = fake
    path = os.path.join(root, "idx")
    segs = os.path.join(path, "segments")
    for name in ("b0", "b1"):
        io.makedirs(os.path.join(segs, name))
    assert G.live_segments(path) == ["b0", "b1"]

    built = {}

    def build(out: str) -> None:
        io.makedirs(out)
        io.write_atomic(os.path.join(out, "data"), "folded-content")
        built["dir"] = out

    gen = G.fold_generation(
        path, build, folded={"b0", "b1"},
        gc_paths=[os.path.join(segs, "b0"), os.path.join(segs, "b1")],
    )
    assert G.gen_name(path) == gen
    assert G.folded_set(path, gen) == {"b0", "b1"}
    assert G.live_segments(path) == []
    assert io.read_text(os.path.join(built["dir"], "data")) == "folded-content"
    # orphan-generation GC leaves only the pointed one
    io.makedirs(os.path.join(path, "gen-orphan"))
    G.gc_orphan_generations(path, gen)
    assert [e for e in io.listdir(path) if e.startswith("gen-")] == [gen]


def test_genstore_fold_into_segment_on_fake(fake):
    io, root = fake
    path = os.path.join(root, "curated")
    io.makedirs(os.path.join(path, "batch_id=b0"))
    io.write_atomic(os.path.join(path, "batch_id=b0", "f"), "old")

    def build(out: str) -> None:
        io.makedirs(out)
        io.write_atomic(os.path.join(out, "f"), "compacted")

    G.fold_into_segment(
        path, "batch_id=c0", build, folded={"b0"},
        gc_paths=[os.path.join(path, "batch_id=b0")],
    )
    assert io.read_text(os.path.join(path, "batch_id=c0", "f")) == "compacted"
    assert io.read_text(
        os.path.join(path, "batch_id=c0", G.FOLDED_MANIFEST)
    ).strip() == "b0"
    # reader grace window (r14): the folded input is retired, not yet
    # deleted; the sweep with an expired grace removes it
    assert io.exists(os.path.join(path, "batch_id=b0"))
    G.sweep_retired(
        path, grace_s=0.0, part_dir=os.path.join(path, "batch_id=c0")
    )
    assert not io.exists(os.path.join(path, "batch_id=b0"))
    # no staging litter
    assert [e for e in io.listdir(path) if e.startswith(".fold-staging")] == []


def test_enforce_law_bootstrap_race_on_fake(fake):
    """The law-bootstrap race on the fakes: concurrent first-users with
    DIFFERENT laws — exactly one law wins, every loser raises the loud
    mismatch (the exclusive-create contract end-to-end, not simulated
    by monkeypatching open). On the CAS port the exclusive create is a
    put-if-absent — the same race must resolve identically."""
    io, root = fake
    path = os.path.join(root, "bands")
    errors: list[str] = []
    wins: list[str] = []
    barrier = threading.Barrier(6)

    def attempt(i: int) -> None:
        law = f"minhash|k={16 * (1 + i % 2)}|bands=4|w=3"  # two rival laws
        barrier.wait()
        try:
            G.enforce_law(path, law)
            wins.append(law)
        except RuntimeError as exc:
            errors.append(str(exc))

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(6)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    recorded = io.read_text(os.path.join(path, G.LAW_MARKER)).strip()
    # every thread whose law matches the recorded one passed, every
    # other raised the loud mismatch — nobody silently overwrote
    assert wins and all(w == recorded for w in wins)
    assert len(wins) + len(errors) == 6
    assert all("written under law" in e for e in errors)
    # same-law re-entry still passes, the rival still fails
    G.enforce_law(path, recorded)
    other = "minhash|k=16|bands=4|w=3"
    if other == recorded:
        other = "minhash|k=32|bands=4|w=3"
    with pytest.raises(RuntimeError, match="written under law"):
        G.enforce_law(path, other)


# -- the loud guard -------------------------------------------------------


@pytest.mark.parametrize(
    "uri",
    ["s3://bucket/stores", "s3a://bucket/x", "hdfs://nn:8020/x",
     "abfs://c@a.dfs.core.windows.net/x", "gs://b/x", "wasbs://c@a/x"],
)
def test_remote_uri_guard_raises_loudly(uri):
    with pytest.raises(RuntimeError, match="atomic"):
        storeio_for(uri)


def test_unknown_scheme_raises_and_plain_paths_resolve_local(tmp_path):
    with pytest.raises(RuntimeError, match="unrecognized scheme"):
        storeio_for("weird://x/y")
    assert isinstance(storeio_for(str(tmp_path)), LocalStoreIO)
    assert isinstance(storeio_for("relative/path"), LocalStoreIO)


def test_curation_ingest_guards_remote_base_dir():
    """The guard fires at CONSTRUCTION — before any batch could run a
    rename-based commit protocol on a namespace without renames."""
    from adsb_clickhouse_spark.streaming.curation import CurationIngest

    with pytest.raises(RuntimeError, match="crash-safety"):
        CurationIngest("s3://bucket/curation")


def test_registered_scheme_lifts_guard(cas):
    assert storeio_for("cas-test://anything") is cas


def test_create_exclusive_survives_concurrent_release(tmp_path):
    """r13 review: the loser branch reads the winner's file — if the
    holder unlinks it between the failed link and the read (a lock
    release), create_exclusive must retry the create, not crash."""
    io = LocalStoreIO()
    root = str(tmp_path)
    p = os.path.join(root, "lock")
    with open(p, "w") as fh:
        fh.write("holder")
    real_read = io.read_text
    state = {"raced": False}

    def racing_read(path):
        if not state["raced"] and path == p:
            state["raced"] = True
            os.unlink(p)  # the holder releases mid-read
            raise FileNotFoundError(p)
        return real_read(path)

    io.read_text = racing_read
    won, content = io.create_exclusive(p, "contender")
    assert (won, content) == (True, "contender")  # retried and acquired
    assert real_read(p) == "contender"


def test_mem_glob_star_does_not_cross_separators(cas):
    cas.makedirs("cas-test://t/scrape_date=a/batch_id=b0")
    cas.makedirs("cas-test://t/scrape_date=a/extra/batch_id=b0")
    got = cas.glob("cas-test://t/scrape_date=*/batch_id=b0")
    assert got == ["cas-test://t/scrape_date=a/batch_id=b0"]  # not the nested one


def test_mem_dir_meta_dies_with_rmtree_and_moves_with_rename(cas):
    cas.makedirs("cas-test://t/gone")
    cas.rmtree("cas-test://t/gone")
    with pytest.raises(OSError):
        cas.mtime("cas-test://t/gone")
    cas.makedirs("cas-test://t/src/sub")
    cas.rename("cas-test://t/src", "cas-test://t/dst")
    with pytest.raises(OSError):
        cas.stat_token("cas-test://t/src")
    assert cas.stat_token("cas-test://t/dst/sub") is not None


# -- the CAS port's own contract ------------------------------------------


def test_cas_backend_has_no_rename_or_link_by_construction():
    """The port's whole point (r13 verdict item 1): the backend surface
    a CAS StoreIO may touch has NO rename and NO hard link — so the
    protocol provably runs on conditional-put semantics alone. Checked
    both on the interface (no such methods exist) and on the source
    (no POSIX escape hatches inside the implementation)."""
    import inspect

    from adsb_clickhouse_spark.plans.storeio import CASBackend

    for name in ("rename", "replace", "link", "move", "symlink"):
        assert not hasattr(CASBackend, name)
        assert not hasattr(MemCASBackend(), name)
    import ast
    import textwrap

    banned = {
        ("os", "rename"), ("os", "replace"), ("os", "link"),
        ("os", "symlink"), ("shutil", "move"), ("shutil", "copytree"),
    }
    for cls in (CASStoreIO, MemCASBackend):
        tree = ast.parse(textwrap.dedent(inspect.getsource(cls)))
        for node in ast.walk(tree):  # actual CALLS, not docstring words
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                base = node.func.value
                if isinstance(base, ast.Name):
                    assert (base.id, node.func.attr) not in banned, (
                        f"{cls.__name__} calls {base.id}.{node.func.attr}"
                    )


def test_cas_crashed_rename_leaves_dst_invisible_then_recovers():
    """Crash discipline of the catalog-flip publish: a rename that
    dies mid-copy (pending marker set, payload half-written) must
    leave dst INVISIBLE to every seam reader, and the next publish
    attempt must GC the garbage and succeed."""
    io = CASStoreIO(MemCASBackend())
    root = "cas-test://store"
    io.makedirs(os.path.join(root, ".staging", "seg"))
    io.write_atomic(os.path.join(root, ".staging", "seg", "f"), "v1")
    dst = os.path.join(root, "seg-final")

    # simulate the crash: pending marker set + partial catalog copy,
    # no commit (exactly the state an interrupted rename leaves)
    io._kv.put_if(io._PENDING + dst, "pending", ANY)
    io._put_rec(dst + "/f", {"k": "f", "t": "torn", "m": 0.0}, ANY)

    # every reader un-sees the masked tree
    assert not io.exists(dst)
    assert not io.isdir(dst)
    with pytest.raises(OSError):
        io.listdir(dst)
    assert "seg-final" not in io.listdir(root)
    assert not io.has_files(dst, "f")
    assert io.glob(os.path.join(root, "seg-*")) == []

    # the retried publish GCs the garbage and commits atomically
    io.rename(os.path.join(root, ".staging", "seg"), dst)
    assert io.read_text(os.path.join(dst, "f")) == "v1"
    assert "seg-final" in io.listdir(root)


class _FlakyCASBackend(MemCASBackend):
    """Crash injection: raises after ``countdown`` MUTATING backend
    ops (a CAS service outage / process kill mid-protocol). Reads never
    crash — a dead writer can't corrupt by reading."""

    def __init__(self) -> None:
        super().__init__()
        self.countdown: int | None = None
        self.mutations = 0

    def _tick(self) -> None:
        self.mutations += 1
        if self.countdown is not None:
            if self.countdown == 0:
                raise OSError("injected CAS outage")
            self.countdown -= 1

    def put_if(self, key, value, expected):
        self._tick()
        return super().put_if(key, value, expected)

    def delete_if(self, key, expected):
        self._tick()
        return super().delete_if(key, expected)


def test_cas_rename_crash_at_every_step_is_atomic_and_recoverable():
    """Kill the directory-publish protocol after EVERY mutating backend
    op: at every crash point the destination is either fully visible
    with complete content or completely invisible — never torn — and a
    retried publish converges. This is the crash discipline the
    pending-marker commit claims; the test drives it exhaustively.
    (Writing it found a real bug: the marker delete sat in a
    ``finally``, unmasking a torn dst on the exact failure it covers.)"""

    def stage(io):
        io.makedirs("cas-test://s/.staging/seg/sub")
        io.write_atomic("cas-test://s/.staging/seg/f1", "one")
        io.write_atomic("cas-test://s/.staging/seg/sub/f2", "two")

    def dst_complete(io) -> bool:
        return (
            io.exists("cas-test://s/final")
            and io.read_text("cas-test://s/final/f1") == "one"
            and io.read_text("cas-test://s/final/sub/f2") == "two"
        )

    crash_step = 0
    completed_without_crash = False
    while not completed_without_crash:
        kv = _FlakyCASBackend()
        io = CASStoreIO(kv)
        stage(io)
        kv.countdown = crash_step
        try:
            io.rename("cas-test://s/.staging/seg", "cas-test://s/final")
            completed_without_crash = True
        except OSError:
            pass
        kv.countdown = None
        # INVARIANT: all-or-nothing visibility at this crash point
        if io.exists("cas-test://s/final"):
            assert dst_complete(io), f"torn dst at crash step {crash_step}"
        else:
            with pytest.raises(OSError):
                io.listdir("cas-test://s/final")
        # RECOVERY: a fresh attempt (re-staged, as a fold retry would)
        # converges regardless of where the previous one died
        if not completed_without_crash:
            io.rmtree("cas-test://s/.staging")
            stage(io)
            if io.exists("cas-test://s/final"):
                io.rmtree("cas-test://s/final")
            io.rename("cas-test://s/.staging/seg", "cas-test://s/final")
        assert dst_complete(io)
        crash_step += 1
    assert crash_step >= 5  # the protocol really has multiple steps


def test_cas_fold_generation_crash_at_every_step_converges():
    """The genstore fold loop (stage → manifest → swap → deferred GC)
    killed after every mutating CAS op: at every crash point the store
    stays readable and consistent — the pointer resolves to a COMPLETE
    generation (old until the swap lands, new after), live_segments
    never lies — and the standard recovery (orphan GC + retry fold)
    converges."""
    crash_step = 0
    completed = False
    while not completed:
        kv = _FlakyCASBackend()
        io = CASStoreIO(kv)
        register_scheme("cas-crash", io)
        try:
            path = "cas-crash://stores/idx"
            for name in ("b0", "b1"):
                io.makedirs(os.path.join(path, "segments", name))
                io.write_atomic(
                    os.path.join(path, "segments", name, "data"), name
                )

            def build(out):
                io.makedirs(out)
                io.write_atomic(os.path.join(out, "data"), "folded")

            kv.countdown = crash_step
            try:
                G.fold_generation(
                    path, build, folded={"b0", "b1"},
                    gc_paths=[
                        os.path.join(path, "segments", "b0"),
                        os.path.join(path, "segments", "b1"),
                    ],
                )
                completed = True
            except OSError:
                pass
            kv.countdown = None
            # INVARIANT: whatever the pointer resolves is complete
            gen = G.gen_name(path)
            if gen is not None:
                assert io.read_text(os.path.join(path, gen, "data")) == "folded"
                assert G.folded_set(path, gen) == {"b0", "b1"}
                assert G.live_segments(path) == []
            else:
                # crash before the swap: bootstrap state, segments live
                assert G.live_segments(path) == ["b0", "b1"]
            # RECOVERY: orphan GC + retry converges from any crash point
            if not completed:
                G.gc_orphan_generations(path, gen)
                G.fold_generation(
                    path, build, folded={"b0", "b1"},
                    gc_paths=[
                        os.path.join(path, "segments", "b0"),
                        os.path.join(path, "segments", "b1"),
                    ],
                )
            gen = G.gen_name(path)
            assert io.read_text(os.path.join(path, gen, "data")) == "folded"
            assert G.live_segments(path) == []
        finally:
            unregister_scheme("cas-crash")
        crash_step += 1
    assert crash_step >= 5


def test_cas_hybrid_unions_catalog_and_physical(tmp_path):
    """Hybrid mode (register_prefix): Spark-written physical entries
    and catalog-written markers appear in ONE namespace — the split a
    real S3 deployment has (parquet on the object store, commit
    metadata in the conditional-put catalog)."""
    io = CASStoreIO(MemCASBackend())
    root = str(tmp_path / "store")
    io.makedirs(root)
    # 'Spark' writes a physical segment dir + file
    os.makedirs(os.path.join(root, "batch_id=b0"))
    with open(os.path.join(root, "batch_id=b0", "part-0.parquet"), "w") as fh:
        fh.write("data")
    # the seam writes a commit marker (catalog-only)
    io.write_atomic(os.path.join(root, "_commit_b0"), "b0")
    assert sorted(io.listdir(root)) == ["_commit_b0", "batch_id=b0"]
    assert io.isdir(os.path.join(root, "batch_id=b0"))
    assert io.has_files(os.path.join(root, "batch_id=b0"), ".parquet")
    assert io.read_text(os.path.join(root, "_commit_b0")) == "b0"
    # rmtree clears both planes
    io.rmtree(root)
    assert not io.exists(root)
    assert not os.path.isdir(os.path.join(root, "batch_id=b0"))


def test_unlink_if_conditional_delete(tmp_path):
    """The takeover primitive (r13 advice): removes the file only if
    its stat token still matches — a rewrite in between must survive."""
    for io, root in _both(tmp_path):
        io.makedirs(root)
        p = os.path.join(root, "lock")
        io.write_atomic(p, "stale-holder")
        token = io.stat_token(p)
        # fresh content replaces the measured file: the conditional
        # delete must refuse and leave the fresh file intact
        io.write_atomic(p, "fresh-holder")
        assert io.unlink_if(p, token) is False
        assert io.read_text(p) == "fresh-holder"
        # matching token: exactly this version is removed
        t2 = io.stat_token(p)
        assert io.unlink_if(p, t2) is True
        assert not io.exists(p)
        # absent file: False, never an exception
        assert io.unlink_if(p, t2) is False


def test_file_size(tmp_path):
    for io, root in _both(tmp_path):
        io.makedirs(root)
        p = os.path.join(root, "f")
        io.write_atomic(p, "abcd")
        assert io.file_size(p) == 4
        with pytest.raises(OSError):
            io.file_size(os.path.join(root, "absent"))


def test_write_under_missing_parent_raises(tmp_path):
    """POSIX parity (r13 advice): LocalStoreIO's open() refuses a
    nonexistent parent; the fakes must too, or callers proven against
    them still fail on the real filesystem."""
    for io, root in _both(tmp_path):
        missing = os.path.join(root, "never-made", "f")
        with pytest.raises(OSError):
            io.write_atomic(missing, "x")
        with pytest.raises(OSError):
            io.create_exclusive(missing, "x")


def test_mem_file_rename_onto_dir_raises(cas):
    """POSIX parity (r13 advice): os.rename(file, existing dir) raises
    IsADirectoryError; a fake must not clobber the dir silently."""
    cas.makedirs("cas-test://t")
    cas.write_atomic("cas-test://t/f", "x")
    cas.makedirs("cas-test://t/d")
    with pytest.raises(OSError):
        cas.rename("cas-test://t/f", "cas-test://t/d")
    assert cas.isdir("cas-test://t/d")
    assert cas.read_text("cas-test://t/f") == "x"


def test_writer_lock_break_never_steals_fresh_lock(tmp_path):
    """r13 advice (tables.py TOCTOU): a breaker that measured a stale
    lock must not remove a FRESH lock that replaced it between the
    staleness check and the break. Simulated deterministically: the
    stale file is measured, then swapped for a fresh one, then the
    conditional delete fires — exactly the interleaving the advice
    named."""
    io = LocalStoreIO()
    root = str(tmp_path)
    p = os.path.join(root, ".maintain_lock")
    io.write_atomic(p, "dead-holder|aaaa")
    stale_token = io.stat_token(p)
    # rival contender breaks + a new holder acquires, in the window
    io.unlink(p)
    won, _ = io.create_exclusive(p, "live-holder|bbbb")
    assert won
    # the slow breaker now fires its conditional delete with the OLD token
    assert io.unlink_if(p, stale_token) is False
    assert io.read_text(p) == "live-holder|bbbb"  # live holder survives


def test_touch_refreshes_stat_token(tmp_path):
    for io, root in _both(tmp_path):
        io.makedirs(root)
        p = os.path.join(root, "lock")
        io.write_atomic(p, "x")
        t1 = io.stat_token(p)
        import time as _t

        _t.sleep(0.02)
        io.touch(p)
        assert io.stat_token(p) != t1
        with pytest.raises(OSError):
            io.touch(os.path.join(root, "absent"))


# -- r15: CAS scale + crash-window fixes ---------------------------------


class _CountingBackend(MemCASBackend):
    """Records every backend round-trip — the cost model of a real
    conditional-put service (each get / list is a billable request)."""

    def __init__(self) -> None:
        super().__init__()
        self.gets = 0
        self.list_prefixes: list[str] = []

    def get(self, key):
        self.gets += 1
        return super().get(key)

    def list_prefix(self, prefix):
        self.list_prefixes.append(prefix)
        return super().list_prefix(prefix)

    def reset(self):
        self.gets = 0
        self.list_prefixes = []


def test_cas_glob_lists_prefix_bounded_not_whole_catalog():
    """r14 verdict item 1: the replay-leftover GC globs
    ``<table>/scrape_date=*/batch_id=bN`` on EVERY history micro-batch
    append — it must list only the pattern's wildcard-free prefix, not
    the entire catalog namespace (O(total keys) and one full
    ListObjects per batch on a real backend)."""
    kv = _CountingBackend()
    io = CASStoreIO(kv)
    table = "cas-test://warehouse/history"
    io.makedirs(table)
    for d in range(3):
        for b in range(3):
            io.makedirs(f"{table}/scrape_date=2026-01-0{d}/batch_id=b{b}")
    # 300 unrelated keys elsewhere in the same catalog: a bounded glob
    # never touches them
    for j in range(300):
        io.makedirs(f"cas-test://warehouse/other{j:03d}")
    kv.reset()
    hits = io.glob(f"{table}/scrape_date=*/batch_id=b1")
    assert len(hits) == 3 and all(h.endswith("batch_id=b1") for h in hits)
    # every listing is bounded to the pattern's fixed prefix — never
    # the bare path or pending namespaces
    for pre in kv.list_prefixes:
        assert pre.startswith(("p:" + table, "x:" + table)), pre
    # per-call round-trips are O(pattern depth + results), independent
    # of the 300-key rest of the catalog
    assert kv.gets <= 8, kv.gets
    assert len(kv.list_prefixes) <= 2, kv.list_prefixes


def test_cas_listdir_mask_checks_are_one_listing_not_per_child():
    """r14 verdict item 1 (second-order): ``listdir`` of N entries was
    O(N * depth) backend gets via per-child ``_masked`` walks — now one
    pending-marker listing covers all children."""
    kv = _CountingBackend()
    io = CASStoreIO(kv)
    root = "cas-test://store/segments"
    io.makedirs(root)
    for j in range(50):
        io.makedirs(f"{root}/seg-{j:03d}")
    # one mid-publish entry stays invisible
    kv.put_if("x:" + root + "/seg-pending", "pending", ANY)
    kv.reset()
    names = io.listdir(root)
    assert len(names) == 50 and "seg-pending" not in names
    # gets: the path's own record + its ancestor mask walk — NOT 50×depth
    assert kv.gets <= 8, kv.gets
    assert len(kv.list_prefixes) <= 3, kv.list_prefixes


def test_cas_file_rename_crash_between_put_and_delete_loses_nothing():
    """r14 advice (medium): the file-branch rename must put dst BEFORE
    conditionally deleting src — a crash between the two ops leaves
    src or dst (or briefly both), never neither. This is the publish
    path of the per-segment stats row."""
    kv = _FlakyCASBackend()
    io = CASStoreIO(kv)
    io.makedirs("cas-test://s/d")
    crash_step = 0
    while True:
        io.write_atomic("cas-test://s/d/.tmp-stats", "stats-v1")
        kv.countdown = crash_step
        crashed = False
        try:
            io.rename("cas-test://s/d/.tmp-stats", "cas-test://s/d/stats")
        except OSError:
            crashed = True
        kv.countdown = None
        # the invariant POSIX rename gives: the content survives at one
        # of the two names at EVERY crash point
        assert (
            io.exists("cas-test://s/d/.tmp-stats")
            or io.read_text("cas-test://s/d/stats") == "stats-v1"
        ), f"content lost at crash step {crash_step}"
        # recovery: a replayed publish (stage again + rename) converges
        if crashed:
            if io.exists("cas-test://s/d/.tmp-stats"):
                io.unlink("cas-test://s/d/.tmp-stats")
            crash_step += 1
            continue
        assert io.read_text("cas-test://s/d/stats") == "stats-v1"
        break
    assert crash_step >= 1  # the protocol has a real crash window


class _SwapOnTouchBackend(MemCASBackend):
    """Injects a lock takeover INSIDE a read-modify-write: the first
    token-conditional put_if finds the key already replaced."""

    def __init__(self) -> None:
        super().__init__()
        self.swap_key: str | None = None
        self.swap_value: str | None = None

    def put_if(self, key, value, expected):
        if self.swap_key == key:
            k, self.swap_key = self.swap_key, None
            super().put_if(k, self.swap_value, ANY)
        return super().put_if(key, value, expected)


def test_cas_touch_never_resurrects_stale_content():
    """r14 advice (low): touch was get -> put(ANY) — a lock broken and
    re-created by a NEW holder between the two got overwritten with the
    stale holder's content. Token-conditional now: the retry refreshes
    the CURRENT content (os.utime by-path semantics), never the stale
    snapshot."""
    import json

    kv = _SwapOnTouchBackend()
    io = CASStoreIO(kv)
    io.makedirs("cas-test://s")
    io.write_atomic("cas-test://s/lock", "old-holder|aaaa")
    new_rec = json.dumps({"k": "f", "t": "new-holder|bbbb", "m": 1.0})
    kv.swap_key = "p:cas-test://s/lock"
    kv.swap_value = new_rec
    io.touch("cas-test://s/lock")
    assert kv.swap_key is None  # the takeover fired mid-touch
    assert io.read_text("cas-test://s/lock") == "new-holder|bbbb"
    assert io.mtime("cas-test://s/lock") > 1.0  # refreshed, not stale


def test_cas_rmtree_clears_own_pending_marker():
    """r14 advice (low): rmtree of a crashed publish destination (e.g.
    gc_orphan_generations on an unpointed gen dir) must clear the
    marker on the path ITSELF, or the orphaned marker permanently
    masks any future entry at that exact path."""
    io = CASStoreIO(MemCASBackend())
    io.makedirs("cas-test://s")
    dst = "cas-test://s/gen-dead"
    # crashed publish: marker + partial content
    io._kv.put_if(io._PENDING + dst, "pending", ANY)
    io._put_rec(dst + "/f", {"k": "f", "t": "torn", "m": 0.0}, ANY)
    io.rmtree(dst)
    assert io._kv.get(io._PENDING + dst) is None
    # the path is usable again
    io.makedirs(dst)
    io.write_atomic(dst + "/f", "reborn")
    assert io.read_text(dst + "/f") == "reborn"
    assert "gen-dead" in io.listdir("cas-test://s")


def test_local_unlink_if_restores_fresh_lock_without_hard_links(
    tmp_path, monkeypatch
):
    """r14 advice (low): on filesystems without hard-link support the
    fresh-lock restore must fall back to a non-clobbering O_EXCL
    create, not silently discard the fresh contender's lock."""
    io = LocalStoreIO()
    p = str(tmp_path / ".lock")
    io.write_atomic(p, "dead-holder|aaaa")
    stale = io.stat_token(p)
    io.unlink(p)
    won, _ = io.create_exclusive(p, "live-holder|bbbb")
    assert won

    def no_link(*a, **k):
        raise OSError("hard links not supported on this mount")

    monkeypatch.setattr(os, "link", no_link)
    assert io.unlink_if(p, stale) is False
    assert io.read_text(p) == "live-holder|bbbb"  # restored, not lost
    # no claim leftovers
    assert [e for e in os.listdir(tmp_path) if ".claim." in e] == []


def test_sweep_stale_claims_age_gated(tmp_path):
    """r14 advice (low): crashed breakers leak the displaced lock under
    ``<lock>.claim.*``; the acquisition-path sweep GCs old claims and
    leaves live (young) ones alone."""
    from adsb_clickhouse_spark.plans.storeio import sweep_stale_claims

    io = LocalStoreIO()
    lock = str(tmp_path / ".writer_lock")
    old = lock + ".claim.deadbeef"
    young = lock + ".claim.cafebabe"
    io.write_atomic(old, "displaced")
    io.write_atomic(young, "in-flight")
    import time as _t

    past = _t.time() - 7200
    os.utime(old, (past, past))
    sweep_stale_claims(lock, max_age_s=3600.0, io=io)
    assert not os.path.exists(old)
    assert os.path.exists(young)


def test_cas_publish_segment_crash_at_every_step_is_atomic():
    """The rename-free segment commit (r14 verdict item 2) under
    exhaustive crash injection: kill the backend after every mutating
    op across begin_publish -> build -> commit_publish. Invariant at
    every crash point: live_segments either lists the fully-built
    segment or does not list it at all — never a torn one — and a
    replayed publish (same segment name, the foreachBatch re-delivery
    contract) converges."""
    crash_step = 0
    completed = False
    while not completed:
        kv = _FlakyCASBackend()
        io = CASStoreIO(kv)
        register_scheme("cas-crash", io)
        try:
            path = "cas-crash://stores/idx"
            io.makedirs(os.path.join(path, "segments"))

            def build(out):
                io.makedirs(out)
                io.write_atomic(os.path.join(out, "data"), "payload")
                io.write_atomic(os.path.join(out, "stats"), "1")

            kv.countdown = crash_step
            try:
                got = G.publish_segment(path, "b0", build)
                assert got is not None
                completed = True
            except OSError:
                pass
            kv.countdown = None
            live = G.live_segments(path)
            if live:  # visible => complete
                assert live == ["b0"]
                seg = os.path.join(path, "segments", "b0")
                assert io.read_text(os.path.join(seg, "data")) == "payload"
                assert io.read_text(os.path.join(seg, "stats")) == "1"
            # RECOVERY: the replay converges from any crash point
            if not completed:
                assert G.publish_segment(path, "b0", build) is not None
            assert G.live_segments(path) == ["b0"]
        finally:
            unregister_scheme("cas-crash")
        crash_step += 1
    assert crash_step >= 4  # begin marker, file puts, commit delete


def test_cas_publish_segment_replay_overwrite_crash_injected():
    """The overwrite flavor (a re-delivered batch replacing its own
    crashed segment): at every crash point readers see the OLD complete
    segment, NOTHING, or the NEW complete segment — never a mix."""
    crash_step = 0
    completed = False
    while not completed:
        kv = _FlakyCASBackend()
        io = CASStoreIO(kv)
        register_scheme("cas-crash", io)
        try:
            path = "cas-crash://stores/idx"
            io.makedirs(os.path.join(path, "segments"))

            def build_v(tag):
                def build(out):
                    io.makedirs(out)
                    io.write_atomic(os.path.join(out, "data"), tag)
                return build

            assert G.publish_segment(path, "b0", build_v("v1")) is not None
            kv.countdown = crash_step
            try:
                G.publish_segment(path, "b0", build_v("v2"))
                completed = True
            except OSError:
                pass
            kv.countdown = None
            live = G.live_segments(path)
            if live:
                assert live == ["b0"]
                content = io.read_text(
                    os.path.join(path, "segments", "b0", "data")
                )
                assert content in ("v1", "v2")
            # replay converges
            G.publish_segment(path, "b0", build_v("v2"))
            assert io.read_text(
                os.path.join(path, "segments", "b0", "data")
            ) == "v2"
        finally:
            unregister_scheme("cas-crash")
        crash_step += 1
    assert crash_step >= 4


def test_cas_fold_into_segment_is_rename_free_and_masked_during_build():
    """fold_into_segment on CAS stages IN PLACE: during build the
    committed name is invisible to OTHER threads (pending marker) while
    the folding thread reads its own staging; the commit flips one
    marker; no directory rename happens at all."""
    kv = MemCASBackend()
    io = CASStoreIO(kv)
    register_scheme("cas-test2", io)
    try:
        path = "cas-test2://curated"
        io.makedirs(path)
        seen_during_build = {}

        def build(out):
            io.makedirs(out)
            io.write_atomic(os.path.join(out, "data"), "folded")
            # the publisher reads its own staging through the seam
            assert io.read_text(os.path.join(out, "data")) == "folded"
            # ...but another thread does NOT see the in-flight entry
            def probe():
                seen_during_build["listed"] = io.listdir(path)
                seen_during_build["exists"] = io.exists(out)
            t = threading.Thread(target=probe)
            t.start()
            t.join()

        G.fold_into_segment(path, "part-0", build, folded={"b0"})
        assert seen_during_build["exists"] is False
        assert "part-0" not in seen_during_build["listed"]
        assert io.read_text(os.path.join(path, "part-0", "data")) == "folded"
        assert G.folded_set(path, None) == set()  # no pointer store here
        # the committed part carries the manifest written during staging
        assert "b0" in io.read_text(
            os.path.join(path, "part-0", G.FOLDED_MANIFEST)
        )
    finally:
        unregister_scheme("cas-test2")


def test_mem_backend_copy_object_server_side():
    kv = MemCASBackend()
    kv.put_if("p:a", "value", ANY)
    tok = kv.copy_object("p:a", "p:b")
    assert tok is not None
    assert kv.get("p:b")[0] == "value"
    assert kv.copy_object("p:absent", "p:c") is None
    assert kv.get("p:c") is None

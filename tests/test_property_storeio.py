"""Differential property test: the three StoreIO implementations agree.

The CAS port's whole claim is that callers proven against one
implementation behave identically on the others — POSIX, the CAS port
catalog-only (the in-memory fake: a scheme path over ``MemCASBackend``),
and the CAS port in hybrid mode (catalog authority over a local payload
plane, the split a real object-store deployment has) must expose the
SAME observable namespace semantics (results and error/no-error outcomes) for any
sequence of seam operations. Hypothesis drives random op sequences over
a small path universe and compares all three step by step; any
divergence is a caller-visible parity bug of exactly the kind the r13
advice found by hand (auto-created parents, file-onto-dir renames).

Outcomes compared: returned values for reads/listings, and WHETHER an
OSError was raised (not the subclass — POSIX surfaces many errno
flavors). mtime/stat_token VALUES are implementation-defined and
excluded; their change-on-write behavior is covered by the contract
suite.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from adsb_clickhouse_spark.plans.storeio import (
    CASStoreIO,
    LocalStoreIO,
    MemCASBackend,
)

_NAMES = ["a", "b", "batch_id=b0", "_marker", "seg"]
_REL = st.lists(
    st.sampled_from(_NAMES), min_size=1, max_size=2
).map("/".join)

_OP = st.one_of(
    st.tuples(st.just("makedirs"), _REL),
    st.tuples(st.just("write_atomic"), _REL, st.sampled_from(["x", "yy"])),
    st.tuples(st.just("create_exclusive"), _REL, st.just("law")),
    st.tuples(st.just("read_text"), _REL),
    st.tuples(st.just("listdir"), _REL),
    st.tuples(st.just("exists"), _REL),
    st.tuples(st.just("isdir"), _REL),
    st.tuples(st.just("file_size"), _REL),
    st.tuples(st.just("unlink"), _REL),
    st.tuples(st.just("rmtree"), _REL),
    st.tuples(st.just("rename"), _REL, _REL),
    st.tuples(st.just("has_files"), _REL, st.just("=b0")),
)


def _apply(io, root: str, op: tuple):
    name, args = op[0], [os.path.join(root, a) for a in op[1:] if "/" in a or a in _NAMES or True]
    # non-path trailing args (text, suffix) must not be joined
    if name in ("write_atomic", "create_exclusive", "has_files"):
        args = [os.path.join(root, op[1]), op[2]]
    elif name == "rename":
        args = [os.path.join(root, op[1]), os.path.join(root, op[2])]
    else:
        args = [os.path.join(root, op[1])]
    try:
        out = getattr(io, name)(*args)
    except OSError:
        return ("oserror",)
    if name == "listdir":
        return ("ok", sorted(out))
    if name in ("read_text", "exists", "isdir", "file_size", "has_files",
                "create_exclusive"):
        return ("ok", out)
    return ("ok", None)


@settings(
    max_examples=120, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(st.lists(_OP, min_size=1, max_size=25))
# a directory renamed onto an existing EMPTY directory: POSIX replaces
# it, the contract refuses
@example([("makedirs", "a"), ("makedirs", "b/a"), ("rename", "a", "b/a")])
def test_three_implementations_agree(ops):
    tmp = tempfile.mkdtemp(prefix="sioprop_")
    try:
        local_root = os.path.join(tmp, "r")
        os.makedirs(local_root)
        impls = [
            (LocalStoreIO(), local_root),
            (CASStoreIO(MemCASBackend()), "cas-test://r"),
            (CASStoreIO(MemCASBackend()), os.path.join(tmp, "hybrid")),
        ]
        # the CAS roots need to exist like the local one does
        for io, root in impls[1:]:
            io.makedirs(root)
        for step, op in enumerate(ops):
            results = [_apply(io, root, op) for io, root in impls]
            assert results[0] == results[1] == results[2], (
                f"step {step} {op} of {ops}: local={results[0]} "
                f"cas={results[1]} hybrid={results[2]}"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

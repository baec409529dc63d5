"""Fingerprinted on-disk inputs derived from the fixtures.

Several queries materialize a deterministic derivation of a source table
(serialized changelog replay log, JSONL/CSV exports, bucketed warehouse)
under the repository's ``.cache``. A bare ``_SUCCESS`` marker is not enough
to trust such a directory: if the source fixture changes, or two different
sf_dirs share a basename, stale data would silently be replayed and
compared against oracles computed from the live fixture. Each one therefore
records the source file's identity (absolute path + mtime + size) and is
rebuilt when it no longer matches. ``derived_input`` is the one
check -> build -> publish step every such input goes through.
"""

from __future__ import annotations

import os
import shutil
import threading
from typing import Callable

_FP_NAME = "_FINGERPRINT"

#: The checkout this package lives in; every path below resolves under it.
REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Bump whenever the CODE that derives any cached materialization changes
# semantics (not just when the source fixture changes): round 2 proved the
# source-only fingerprint insufficient — a JSONL cache written through a
# broken ts reader stayed "fresh" because the fixture bytes hadn't moved.
CACHE_CODE_VERSION = "v5"


def source_fingerprint(sf_dir: str, table: str = "events") -> str:
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    st = os.stat(path)
    return f"{CACHE_CODE_VERSION}:{path}:{st.st_mtime_ns}:{st.st_size}"


# Inter-process build locks (VERDICT r11 task #7): the shared-tree caches
# assume check -> build -> publish is exclusive, but a second harness
# process on the same repo (the judge's oracle gate beside a pytest run)
# can interleave — two builders writing one dir, or a reader consuming a
# half-built cache. cache_is_fresh() therefore takes an exclusive
# flock on ``<cache_dir>.lock`` and, on a MISS, holds it until the same
# process publishes via write_fingerprint() — so a concurrent process
# blocks in its own freshness check until the build lands, re-checks, and
# reads the finished cache instead of rebuilding over it. flock releases
# on process death, and ``derived_input`` releases it when its build
# raises; waiters still use a bounded wait (_LOCK_WAIT_SEC) and then
# degrade to lock-free behavior rather than hang.
_HELD_LOCKS: dict[str, object] = {}
_HELD_MU = threading.Lock()


def _lock_path(cache_dir: str) -> str:
    d = os.path.dirname(os.path.abspath(cache_dir))
    os.makedirs(d, exist_ok=True)
    return os.path.abspath(cache_dir) + ".lock"


def _check_fresh(cache_dir: str, fingerprint: str) -> bool:
    fp_file = os.path.join(cache_dir, _FP_NAME)
    if not os.path.exists(os.path.join(cache_dir, "_SUCCESS")):
        return False
    if not os.path.exists(fp_file):
        return False
    with open(fp_file) as fh:
        return fh.read() == fingerprint


#: Bounded wait for a peer's in-flight build. ``derived_input`` releases
#: the lock when its build raises, but a peer that builds through
#: ``cache_is_fresh`` directly and abandons the build keeps its flock until
#: process exit — an unbounded LOCK_EX here would turn that into an
#: indefinite cross-process hang. After the deadline the waiter proceeds
#: WITHOUT the lock (worst case a redundant concurrent rebuild).
_LOCK_WAIT_SEC = 300.0


def _flock_bounded(fh, deadline_sec: float) -> bool:
    """True if the exclusive flock was acquired within deadline_sec."""
    import fcntl
    import time

    end = time.monotonic() + deadline_sec
    while True:
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return True
        except OSError:
            if time.monotonic() >= end:
                return False
            time.sleep(0.1)


def cache_is_fresh(cache_dir: str, fingerprint: str) -> bool:
    key = os.path.abspath(cache_dir)
    with _HELD_MU:
        already_held = key in _HELD_LOCKS
    if already_held:
        # this process is mid-build (a retry or a nested re-check):
        # flock on a second fd of the same file would self-deadlock
        return _check_fresh(cache_dir, fingerprint)
    fh = None
    try:
        fh = open(_lock_path(cache_dir), "w")
        got = _flock_bounded(fh, _LOCK_WAIT_SEC)
    except (ImportError, OSError):
        if fh is not None:
            fh.close()  # don't leak the fd when flock itself is unsupported
        return _check_fresh(cache_dir, fingerprint)  # degraded: no locking
    if not got:
        fh.close()
        return _check_fresh(cache_dir, fingerprint)  # degraded: peer wedged
    fresh = _check_fresh(cache_dir, fingerprint)
    if fresh:
        fh.close()  # closing the fd drops the flock
    else:
        with _HELD_MU:
            _HELD_LOCKS[key] = fh  # held until write_fingerprint publishes
    return fresh


def write_fingerprint(cache_dir: str, fingerprint: str) -> None:
    tmp = os.path.join(cache_dir, f"{_FP_NAME}.tmp.{os.getpid()}")
    with open(tmp, "w") as fh:
        fh.write(fingerprint)
    os.replace(tmp, os.path.join(cache_dir, _FP_NAME))
    _release_lock(cache_dir)


def _release_lock(cache_dir: str) -> None:
    with _HELD_MU:
        lock_fh = _HELD_LOCKS.pop(os.path.abspath(cache_dir), None)
    if lock_fh is not None:
        lock_fh.close()  # closing the fd drops the flock


def cache_path(
    sf_dir: str, name: str, suffix: str = "", under: str = ".cache"
) -> str:
    """``<repo>/<under>/<name>_<tier><suffix>``, the tier being the fixture
    directory's basename (``sf0.01``)."""
    tier = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(REPO_ROOT, under, f"{name}_{tier}{suffix}")


def derived_input(
    sf_dir: str,
    table: str,
    name: str,
    build: Callable[[str], None],
    version: str = "",
    *,
    suffix: str = "",
    under: str = ".cache",
) -> str:
    """The directory ``cache_path(sf_dir, name, suffix, under)``, built by
    ``build(path)`` unless its fingerprint — ``sf_dir``'s ``table`` plus
    ``version`` (a layout tag such as ``":late5"``) — is current.

    ``build`` writes a fresh directory (any stale one is removed first)
    and must leave a ``_SUCCESS`` marker in it; the fingerprint is
    published after it returns. Concurrent processes serialize on the
    directory's lock (``cache_is_fresh``); a build that raises releases
    the lock before the error propagates, so peers do not wait it out."""
    path = cache_path(sf_dir, name, suffix, under)
    fp = source_fingerprint(sf_dir, table) + version
    if not cache_is_fresh(path, fp):
        try:
            shutil.rmtree(path, ignore_errors=True)
            build(path)
            write_fingerprint(path, fp)
        except BaseException:
            _release_lock(path)
            raise
    return path


def process_scoped_scratch(name: str) -> str:
    """``.cache/run_scratch/pid_{pid}/{name}`` — a per-process scratch
    directory for materializations REBUILT inside every query run (e.g.
    the semdedup kept-set store). Unlike the fingerprinted caches above,
    nothing here survives as an input to a later run: consumers overwrite
    on every invocation; the per-PID root only prevents two concurrent
    harness processes from clobbering each other's in-flight build. Dead
    PIDs' dirs are swept with the same age-gated liveness rule as the
    Derby scratch."""
    _sweep_scratch(os.path.join(REPO_ROOT, ".cache", "run_scratch"))
    return os.path.join(
        REPO_ROOT, ".cache", "run_scratch", f"pid_{os.getpid()}", name
    )


# ---------------------------------------------------------------------------
# Process-scoped scratch databases (VERDICT r11 task #7): embedded Derby
# takes an exclusive boot lock per database DIRECTORY, so two harness
# processes on one tree (pytest beside the judge's oracle gate) that share
# a db path fail with "another instance of Derby may have already booted".
# Unlike the fingerprinted caches above, the Derby dbs are SCRATCH state —
# sink tables are truncate-/overwrite-initialized per query run and every
# consumer is replay-idempotent — so per-process isolation changes no
# result; it only removes the cross-process boot-lock collision.
# ---------------------------------------------------------------------------

_SWEPT_BASES: set[str] = set()


def _sweep_scratch(base: str) -> None:
    """Best-effort sweep of dead PIDs' scratch dirs under ``base``, once
    per process per base. Only dirs older than an hour are eligible: a
    dir younger than that could belong to a NEW process that recycled the
    dead PID between the liveness check and the delete — an age gate
    removes that race entirely, since a live owner's dir is by
    construction younger than the owner process."""
    os.makedirs(base, exist_ok=True)
    if base in _SWEPT_BASES:
        return
    _SWEPT_BASES.add(base)
    import time

    cutoff = time.time() - 3600
    for entry in os.listdir(base):
        if not entry.startswith("pid_"):
            continue
        path = os.path.join(base, entry)
        try:
            if os.stat(path).st_mtime > cutoff:
                continue  # too young: possible PID-recycle race
            pid = int(entry.split("_", 1)[1])
        except (ValueError, OSError):
            continue  # unparseable name or vanished dir: leave it
        try:
            os.kill(pid, 0)  # raises ProcessLookupError if dead
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid: leave it


def process_scoped_db_path(name: str) -> str:
    """``.cache/derby_scratch/pid_{pid}/{name}`` — unique per live process
    (embedded Derby takes an exclusive boot lock per database directory;
    a DuckDB sink file is emptied when its sink starts)."""
    _sweep_scratch(os.path.join(REPO_ROOT, ".cache", "derby_scratch"))
    return os.path.join(
        REPO_ROOT, ".cache", "derby_scratch", f"pid_{os.getpid()}", name
    )

"""Shared crash-safe directory swap.

Three call sites rewrite a directory by the same sibling-rename swap
(write to a uuid-named ``.staging-*`` dir → rename live dir to
``.old`` → rename staging in → drop ``.old``): ``sync/incremental.py``,
``sync/merge.py`` and ``sources/tables.py::compact_parquet``. This
module owns the whole swap — ``swap_publish`` names the staging dir,
commits it and cleans it up, and runs the recovery on entry — so the
three callers cannot drift. The recovery:

- a crash between the two renames leaves the only durable copy in
  ``.old`` with the live path missing → restore it;
- a hard kill (skipping the in-process ``finally``) leaves the
  uuid-named staging dir orphaned — a full dataset-sized copy no later
  run ever reuses → delete it, BUT only when it is older than
  ``min_age_s``: an age guard is what keeps one scheduled run from
  deleting a *concurrent* run's in-progress staging write mid-flight
  (which would either fail that run's job or, worse, let its rename
  swap a partially-deleted directory over the live data).

``min_age_s`` defaults to one hour — far longer than a rename swap
stays in flight after its write finishes, far shorter than forever.
Callers that KNOW no concurrent writer exists (tests, single-flight
maintenance jobs) may pass 0 to reap immediately.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid

STALE_STAGING_AGE_S = 3600.0


@contextlib.contextmanager
def path_mutex(path: str):
    """Advisory exclusive lock serializing read-modify-write swaps on
    ``path`` for all processes on one host (``flock`` on a ``.lock``
    sibling — the lock file persists; holding the flock, not the file's
    existence, is the lock, so crashes can never leave it stuck).

    Without this, two overlapping refreshes both read the same old
    state, each fold only their own batch, and the last swap silently
    drops the other's contribution — lost update, no error. Multi-HOST
    writers need a transactional table format instead (Delta/Iceberg
    MERGE); that is already each caller's documented scale posture.
    On platforms without ``fcntl`` the lock degrades to a no-op.

    The lock key is the NORMALIZED real path: without that, callers
    naming the same directory differently ('dir' vs 'dir/' vs a symlink)
    would lock different sibling files and proceed concurrently —
    collapsing the exact serialization this mutex exists to provide."""
    lock_path = os.path.realpath(os.path.normpath(path)) + ".lock"
    try:
        import fcntl
    except ImportError:  # non-POSIX: best-effort, documented
        yield
        return
    # First-run bootstrap: callers lock BEFORE their first write (the
    # write that would have created the parent dirs), so a fresh
    # summary/store path under a not-yet-existing parent must not die
    # in os.open with ENOENT.
    parent = os.path.dirname(lock_path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)  # releases the flock


@contextlib.contextmanager
def swap_publish(path: str):
    """Publish a rewrite of ``path`` through the sibling-rename swap.

    Recovers an interrupted swap of ``path`` first, then yields a fresh
    ``{path}.staging-<uuid>`` path (not yet created) for the body to
    write. When the body returns, the staging dir is swapped in (live →
    ``.old`` → staging in → drop ``.old``; a missing live path, the
    first-call bootstrap, skips the ``.old`` leg). A crash at any step
    is recovered by the next entry. The staging dir is removed whether
    the body returns or raises, so a failed write leaves the live data
    as it was.

    Callers hold ``path_mutex(path)`` around this block and read the
    published data back after it, still under the mutex: inside the
    block the live path still holds the old data."""
    recover_interrupted_swap(path)
    staging_dir = f"{path}.staging-{uuid.uuid4().hex}"
    try:
        yield staging_dir
        old_dir = path + ".old"
        if os.path.exists(old_dir):
            shutil.rmtree(old_dir)
        if os.path.exists(path):
            os.rename(path, old_dir)
        os.rename(staging_dir, path)
        if os.path.exists(old_dir):
            shutil.rmtree(old_dir)
    finally:
        if os.path.exists(staging_dir):
            shutil.rmtree(staging_dir, ignore_errors=True)


def recover_interrupted_swap(
    path: str, min_age_s: float = STALE_STAGING_AGE_S
) -> None:
    """Recover ``path`` from a crashed sibling-rename swap and reap
    stale ``{path}.staging-*`` orphans older than ``min_age_s``."""
    old_dir = path + ".old"
    if not os.path.exists(path) and os.path.exists(old_dir):
        os.rename(old_dir, path)
    elif os.path.exists(path) and os.path.exists(old_dir):
        # Crash AFTER the publish rename: live is complete and `.old`
        # is a dataset-sized obsolete copy that nothing else will ever
        # reap (a one-shot job never swaps this path again) — drop it,
        # mirroring the catalog twin (dedup_store._recover_history's
        # leftover-__old drop). ignore_errors: a concurrent
        # swap_publish's own final rmtree may race us here; either
        # winner leaves the same state.
        shutil.rmtree(old_dir, ignore_errors=True)
    parent = os.path.dirname(os.path.abspath(path)) or "."
    prefix = os.path.basename(path) + ".staging-"
    if not os.path.isdir(parent):
        return
    now = time.time()
    for name in os.listdir(parent):
        if not name.startswith(prefix):
            continue
        full = os.path.join(parent, name)
        try:
            # Liveness probe = newest mtime over the WHOLE subtree. An
            # in-flight Spark write churns deep under
            # staging/_temporary/<job>/_temporary/<task>/... — the
            # immediate _temporary child goes mtime-quiet right after
            # job setup, so probing only one level down would let a
            # >min_age_s concurrent write be reaped mid-flight (the
            # partially-deleted-swap hazard this guard exists for).
            # The walk STOPS at the first fresh mtime: a live writer's
            # dataset-sized staging tree costs a handful of stats, and
            # the full O(files) walk is paid only for truly-quiet
            # orphans, which are rare and about to be deleted anyway.
            newest = os.path.getmtime(full)
            alive = (now - newest) < min_age_s
            if not alive:
                for dirpath, dirnames, filenames in os.walk(full):
                    for entry in dirnames + filenames:
                        try:
                            m = os.path.getmtime(
                                os.path.join(dirpath, entry)
                            )
                        except OSError:
                            # a task dir vanished mid-walk → the writer
                            # is ALIVE and renaming right now
                            m = now
                        if m > newest:
                            newest = m
                        if (now - newest) < min_age_s:
                            alive = True
                            break
                    if alive:
                        break
        except OSError:
            continue  # vanished (e.g. its owner just completed its swap)
        if not alive and (now - newest) >= min_age_s:
            shutil.rmtree(full, ignore_errors=True)


def atomic_json_dump(path: str, obj, **dump_kwargs) -> None:
    """Write JSON to ``path`` crash-safely: tmp sibling + ``os.replace``.

    A crash or ENOSPC mid-dump must not leave a truncated file (and on a
    re-export must not have already destroyed the previous good copy).
    Shared by the corpus manifest and the ANN store's meta.json — one
    definition so a durability fix (e.g. fsync-before-replace) lands
    everywhere at once.
    """
    import json

    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, **dump_kwargs)
    os.replace(tmp, path)

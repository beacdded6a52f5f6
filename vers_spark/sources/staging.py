"""Bounded scratch space for queries that materialize staged table copies
(format round-trips, schema evolution, COW/versioned stores, index saves).

The contract (VERDICT r7 item 2 + ADVICE race note):

- stable within one Spark application → repeated sweep/bench invocations
  reuse (not accumulate) their corpus-sized staged copies;
- keyed by applicationId → two concurrent runs over the same sf_dir can
  never overwrite each other's files mid-read;
- atexit removal of this application's subtree + pruning of sibling
  subtrees untouched for >2h whose owning pid is gone (crashed runs) →
  /tmp growth is bounded across rounds, and a live long-running app can
  never lose staged files mid-read to a sibling's pruning pass.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import tempfile
import time

from pyspark.sql import SparkSession

_CLEANUP_REGISTERED: set[str] = set()
_STALE_SECONDS = 2 * 3600


def staging_dir(spark: SparkSession, kind: str, token: str) -> str:
    """Per-application scratch dir for (kind, token) — layout
    ``<tmp>/vs_stage_<kind>_<md5(token)[:8]>/<applicationId>``.

    ``token`` is whatever makes the stage distinct (usually sf_dir). A live
    concurrent application's subdir is by construction recent and is never
    pruned; only this app's subdir is removed at exit.
    """
    tag = hashlib.md5(token.encode()).hexdigest()[:8]
    parent = os.path.join(tempfile.gettempdir(), f"vs_stage_{kind}_{tag}")
    # applicationId alone is NOT unique across processes in local mode
    # ("local-<epoch-ms>" — two test processes launched in the same
    # millisecond collide); the pid disambiguates while staying stable
    # within one application
    app = f"{spark.sparkContext.applicationId}_{os.getpid()}"
    mine = os.path.join(parent, app)
    os.makedirs(mine, exist_ok=True)
    # refresh OUR dir's mtime on every call: a directory's mtime does not
    # track writes deep inside it, so a >2h-running application would
    # otherwise look stale to a sibling process's pruning pass
    os.utime(mine)
    if mine not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(mine)
        atexit.register(shutil.rmtree, mine, ignore_errors=True)
    now = time.time()
    try:
        for sib in os.listdir(parent):
            p = os.path.join(parent, sib)
            if sib != app and now - os.path.getmtime(p) > _STALE_SECONDS:
                # mtime alone can mis-mark a LIVE owner as stale: its mtime
                # only refreshes when IT calls staging_dir for this same
                # (kind, token), so a long-running app holding a memoized
                # staged path (e.g. the .vec stage) could have files deleted
                # mid-read. The dir name embeds the owner's pid — skip
                # siblings whose process is still alive.
                if _owner_alive(sib):
                    continue
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    return mine


def _owner_alive(subdir: str) -> bool:
    """True when the pid embedded in an ``<applicationId>_<pid>`` staging
    subdir name belongs to a live process we could signal. Unparseable names
    are treated as live (never delete what we can't attribute)."""
    pid_part = subdir.rsplit("_", 1)[-1]
    if not pid_part.isdigit():
        return True
    try:
        os.kill(int(pid_part), 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except OSError:
        return True


def ephemeral_dir(prefix: str, tmpfs: bool = True) -> str:
    """Per-CALL scratch dir, removed at process exit — for stages that are
    per-query-run by necessity (streaming checkpoints, state stores, memory
    sinks) rather than reusable staged table copies. tmpfs when available:
    micro-batch checkpoints fsync many tiny files, which on a slow shared
    disk dominates small-stream wall time; on a real cluster these live on
    provisioned fast storage and this is a no-op choice.

    atexit never fires for a KILLED process (OOM killer), so the dir name
    embeds the owner pid (``<prefix>pid<pid>.<rand>``) and every call prunes
    dead-owner siblings — the staging_dir liveness discipline; a 2285-dir /
    16 GB tmpfs residue from crashed runs motivated it. Unparseable names
    (pre-pid format, foreign files) are never touched."""
    # always a NAMESPACED parent ("vs-scratch"), never the bare system temp
    # dir: the dead-owner prune below must only ever see entries this module
    # created — a loose pid regex over a shared /tmp could match (and
    # delete) unrelated software's files
    base = (
        "/dev/shm/vs-scratch"
        if tmpfs and os.path.isdir("/dev/shm")
        else os.path.join(tempfile.gettempdir(), "vs-scratch")
    )
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix=f"{prefix}pid{os.getpid()}.", dir=base)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    try:
        for sib in os.listdir(base):
            m = re.search(r"pid(\d+)\.", sib)
            if m is None or int(m.group(1)) == os.getpid():
                continue
            if not _pid_alive(int(m.group(1))):
                shutil.rmtree(os.path.join(base, sib), ignore_errors=True)
    except OSError:
        pass
    return d


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except OSError:
        return True  # exists / can't signal → treat as live


def fresh_subdir(spark: SparkSession, kind: str, token: str, name: str) -> str:
    """``staging_dir`` subpath cleared before use — for stages that APPEND
    (uuid part files, versioned v1/v2/... stores) rather than overwrite, so
    an in-application rerun starts from an empty directory."""
    path = os.path.join(staging_dir(spark, kind, token), name)
    shutil.rmtree(path, ignore_errors=True)
    return path

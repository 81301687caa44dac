"""Process-lifetime temp staging dirs with atexit cleanup.

The serve/streaming queries stage replay sources, snapshot sinks, and
checkpoints under ``tempfile.mkdtemp(prefix="striot_q*")``. Within one
process the source stagings are memoized (``staged``), but every FRESH
process (driver sweep, bench run, test session) minted new dirs and
never removed them, so repeated sweeps accumulated ``/tmp/striot_q*``
indefinitely (VERDICT r12 housekeeping item 3). ``striot_mkdtemp``
keeps the per-process isolation that makes concurrent sweeps safe
(never a shared deterministic path — a bench and a sim running side by
side must not cross-write staging) and registers ONE atexit hook that
removes everything this process created when it exits. Crashed
processes can still leave orphans; that is the accepted trade-off
versus the alternative of GC-ing other live processes' dirs by prefix,
which would corrupt a concurrent run.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable, Hashable
from typing import Any

_CREATED: list[str] = []

#: (prefix, key) -> (path, schema) of every staging ``staged`` wrote.
#: METADATA ONLY — a path and the schema of the rows written there,
#: never rows or plans. A staged dir is written once and never rewritten
#: in this process, which is what keeps the recorded schema true: a
#: caller that rewrote a staged dir in place with different columns
#: would read the missing or renamed ones back as silent NULLs (a
#: reader given a schema does not check it against the files).
_STAGED: dict[tuple[str, Hashable], tuple[str, Any]] = {}


def striot_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` that self-cleans at interpreter exit.

    Drop-in for every staging/checkpoint/snapshot dir whose lifetime
    is "this process's queries" — NOT for post-mortem artifact dumps
    (e.g. q93's mismatch dump), which must outlive the process.
    """
    path = tempfile.mkdtemp(prefix=prefix)
    _CREATED.append(path)
    return path


def register_tempfile(path: str) -> str:
    """Register an existing temp FILE (not dir) for the same atexit
    removal — e.g. the per-process ``striot_spark_pkg_<pid>.zip`` that
    ``addPyFile`` ships to executors: Spark copies it into its own
    file server at add time, but the original must survive the process
    (a session restart re-adds it), so deletion rides process exit."""
    _CREATED.append(path)
    return path


def staged(key: Hashable, prefix: str, write: Callable[[str], Any]) -> str:
    """The staging dir for ``(prefix, key)``, written on first use.

    ``write(path)`` fills a fresh ``striot_mkdtemp(prefix)`` dir and
    returns the schema of the rows it wrote (``None`` for a non-parquet
    staging); later calls with the same prefix and key return the same
    path without writing. ``staged_schema(path)`` gives the recorded
    schema back, so a stream over a staged dir needs no schema
    re-inference. The prefix names the kind of staging and the key its
    inputs (typically the sf dir), so two kinds never share a path.
    """
    hit = _STAGED.get((prefix, key))
    if hit is None:
        path = striot_mkdtemp(prefix)
        hit = (path, write(path))
        _STAGED[(prefix, key)] = hit
    return hit[0]


def staged_schema(path: str) -> Any:
    """The schema ``staged`` recorded for the parquet staging at ``path``."""
    for p, schema in _STAGED.values():
        if p == path and schema is not None:
            return schema
    raise KeyError(f"{path} is not a parquet staging of this process")


def cleanup_tempdirs() -> None:
    """Remove every path this process registered (dirs and files), and
    forget the staging memo so no memoized path outlives its dir.

    Idempotent; runs automatically at exit. File removal needs no JVM,
    so ordering against Spark's own shutdown hooks is irrelevant.
    """
    import os

    _STAGED.clear()
    while _CREATED:
        p = _CREATED.pop()
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.unlink(p)
            except OSError:
                pass


# Registered exactly once, at import: keying registration off _CREATED
# transitioning from empty re-registered the hook after every manual
# cleanup_tempdirs() drain (harmless only because cleanup is
# idempotent). cleanup_tempdirs with an empty list is a no-op, so
# import-time registration costs nothing when no dir is ever minted.
atexit.register(cleanup_tempdirs)

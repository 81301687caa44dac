"""striot_mkdtemp staging-dir lifecycle (VERDICT r12 task 6): the
serve/streaming queries' staging, snapshot, and checkpoint dirs must
not accumulate across repeated fresh-process sweeps — each process
removes everything it minted at exit. ``staged`` memoizes the source
stagings on top of that, and ``cleanup_tempdirs()`` forgets the memo
together with the dirs, so a memoized path never outlives its dir.

The in-process tests monkeypatch ``_CREATED`` (and ``_STAGED``) to
fresh containers before calling ``cleanup_tempdirs()``: the real list
holds THIS test session's dirs, which the ``bucketing._LOCATION``
cache still points at, and a mid-session cleanup of the real list
would delete dirs that cache relies on — failing any later test that
touches a bucketed query (ADVICE r13).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import striot_spark.tempdirs as tempdirs
from striot_spark.tempdirs import (
    cleanup_tempdirs,
    register_tempfile,
    staged,
    staged_schema,
    striot_mkdtemp,
)


def test_mkdtemp_registers_and_cleanup_removes(monkeypatch):
    monkeypatch.setattr(tempdirs, "_CREATED", [])
    p1 = striot_mkdtemp(prefix="striot_test_lifecycle_")
    p2 = striot_mkdtemp(prefix="striot_test_lifecycle_")
    assert os.path.isdir(p1) and os.path.isdir(p2)
    assert p1 != p2  # per-call isolation: concurrent sweeps never collide
    assert p1 in tempdirs._CREATED and p2 in tempdirs._CREATED
    cleanup_tempdirs()
    assert not os.path.exists(p1) and not os.path.exists(p2)
    assert tempdirs._CREATED == []  # drained: the atexit pass finds nothing


def test_register_tempfile_removes_files_too(monkeypatch):
    """The per-process pkg zip (sources/batch.py) registers as a FILE;
    cleanup must unlink it, not only rmtree dirs."""
    import tempfile

    monkeypatch.setattr(tempdirs, "_CREATED", [])
    fd, path = tempfile.mkstemp(prefix="striot_test_file_")
    os.close(fd)
    register_tempfile(path)
    assert os.path.exists(path)
    cleanup_tempdirs()
    assert not os.path.exists(path)


def test_cleanup_leaves_other_sessions_entries_alone(monkeypatch):
    """The monkeypatched cleanup must not reach the real module list:
    entries registered before the patch survive an in-test cleanup."""
    import tempfile

    survivor = tempfile.mkdtemp(prefix="striot_test_survivor_")
    tempdirs._CREATED.append(survivor)
    try:
        monkeypatch.setattr(tempdirs, "_CREATED", [])
        doomed = striot_mkdtemp(prefix="striot_test_doomed_")
        cleanup_tempdirs()
        assert not os.path.exists(doomed)
        assert os.path.isdir(survivor)  # untouched by the patched drain
    finally:
        if survivor in tempdirs._CREATED:
            tempdirs._CREATED.remove(survivor)
        import shutil

        shutil.rmtree(survivor, ignore_errors=True)


def test_staged_writes_once_per_key_and_restages_after_cleanup(monkeypatch):
    monkeypatch.setattr(tempdirs, "_CREATED", [])
    monkeypatch.setattr(tempdirs, "_STAGED", {})
    calls = []

    def write(path):
        calls.append(path)
        open(os.path.join(path, "f.parquet"), "w").close()
        return f"schema-{len(calls)}"

    p1 = staged("sf_a", "striot_test_staged_", write)
    assert calls == [p1] and os.path.isdir(p1)
    assert staged("sf_a", "striot_test_staged_", write) == p1  # memo hit
    assert calls == [p1]  # the writer ran once for this key
    assert staged_schema(p1) == "schema-1"
    # another key, or another kind of staging over the same key, is
    # its own dir
    p2 = staged("sf_b", "striot_test_staged_", write)
    p3 = staged("sf_a", "striot_test_other_", write)
    assert len({p1, p2, p3}) == 3 and len(calls) == 3

    cleanup_tempdirs()
    assert not os.path.exists(p1)
    p4 = staged("sf_a", "striot_test_staged_", write)  # stages again
    assert p4 != p1 and calls[-1] == p4 and os.path.isdir(p4)
    assert staged_schema(p4) == "schema-4"
    # a forgotten path, or a staging that recorded no schema, has none
    text = staged("sf_a", "striot_test_text_", lambda path: None)
    for path in (p1, text):
        with pytest.raises(KeyError):
            staged_schema(path)
    cleanup_tempdirs()


def test_fresh_process_removes_its_staging_at_exit():
    """The accumulation scenario itself: a fresh python process mints a
    staging dir (as every driver sweep / bench run does) and the dir is
    gone once that process exits — no /tmp/striot_q* residue."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from striot_spark.tempdirs import striot_mkdtemp;"
            "print(striot_mkdtemp('striot_test_fresh_'))",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith("/") and "striot_test_fresh_" in path
    assert not os.path.exists(path)

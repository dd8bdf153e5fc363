"""The artifact memo's contract (hfp_loader_spark/memo.py), with no
Spark job: stand-in session objects carry only an ``applicationId``, and
every test runs on a private entry table so the real session's entries
are never touched."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from hfp_loader_spark import memo


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def private_table(monkeypatch):
    monkeypatch.setattr(memo, "_ENTRIES", {})
    monkeypatch.setattr(memo, "_COUNTS", {})


def _builder(calls: list):
    def build():
        calls.append(1)
        return len(calls)

    return build


def _touch(path, size: int) -> None:
    """Rewrite ``path`` in place with ``size`` bytes and a later mtime."""
    path.write_bytes(b"x" * size)
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_dead_session_entry_is_evicted(tmp_path):
    f = tmp_path / "t.parquet"
    _touch(f, 3)
    calls: list = []
    dead, live = _session("app-dead"), _session("app-live")
    assert memo.memo("k", dead, [str(f)], None, _builder(calls)) == 1
    assert memo.memo("k", dead, [str(f)], None, _builder(calls)) == 1
    # a process-wide entry survives the session change
    memo.memo("pure", None, [str(f)], None, _builder([]))
    assert memo.memo("k", live, [str(f)], None, _builder(calls)) == 2
    scopes = {key[1] for key in memo._ENTRIES}
    assert scopes == {"app-live", None}


def test_unknown_stamp_builds_every_call_and_stores_nothing(tmp_path):
    calls: list = []
    for path in (str(tmp_path / "missing.parquet"), "abfss://c@a/t.parquet"):
        for spark in (None, _session("app-1")):
            memo.memo("k", spark, [path], None, _builder(calls))
            memo.memo("k", spark, [path], None, _builder(calls))
    assert len(calls) == 8
    assert memo._ENTRIES == {}
    assert memo.counters()["k"]["misses"] == 8


@pytest.mark.parametrize("nested", [False, True])
def test_rewritten_input_replaces_its_entry(tmp_path, nested):
    root = tmp_path / "t.parquet"
    leaf = root / "p=1" / "part-0.parquet" if nested else root
    leaf.parent.mkdir(parents=True, exist_ok=True)
    _touch(leaf, 3)
    calls: list = []
    memo.memo("k", None, [str(root)], "d", _builder(calls))
    n_entries = len(memo._ENTRIES)
    _touch(leaf, 3)  # same size, new mtime
    assert memo.memo("k", None, [str(root)], "d", _builder(calls)) == 2
    _touch(leaf, 5)  # new size
    assert memo.memo("k", None, [str(root)], "d", _builder(calls)) == 3
    assert memo.memo("k", None, [str(root)], "d", _builder(calls)) == 3
    assert len(memo._ENTRIES) == n_entries == 1


def test_definition_is_part_of_the_key(tmp_path):
    f = tmp_path / "t.parquet"
    _touch(f, 3)
    calls: list = []
    memo.memo("k", None, [str(f)], "d1", _builder(calls))
    memo.memo("k", None, [str(f)], "d2", _builder(calls))
    memo.memo("k", None, [str(f)], "d1", _builder(calls))
    assert len(calls) == 2


def test_hits_misses_and_build_seconds_are_counted(tmp_path):
    f = tmp_path / "t.parquet"
    _touch(f, 3)
    for _ in range(3):
        memo.memo("a", None, [str(f)], None, _builder([]))
    memo.memo("b", None, [str(f)], None, _builder([]))
    got = memo.counters()
    assert (got["a"]["hits"], got["a"]["misses"]) == (2, 1)
    assert (got["b"]["hits"], got["b"]["misses"]) == (0, 1)
    assert got["a"]["build_s"] >= 0.0


def test_a_failed_build_stores_nothing(tmp_path):
    f = tmp_path / "t.parquet"
    _touch(f, 3)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo.memo("k", None, [str(f)], None, boom)
    assert memo._ENTRIES == {}
    assert memo.memo("k", None, [str(f)], None, lambda: "ok") == "ok"


def test_counts_survive_concurrent_callers(tmp_path):
    """Threads sharing one entry table lose no hit or miss."""
    import sys
    import threading

    paths = []
    for i in range(4):
        f = tmp_path / f"t{i}.parquet"
        _touch(f, 3)
        paths.append(str(f))
    n_threads, n_calls = 16, 200

    def work(j: int) -> None:
        spark = _session("app-1")
        for i in range(n_calls):
            memo.memo("k", spark, [paths[(i + j) % 4]], None, lambda: i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(j,)) for j in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    got = memo.counters()["k"]
    assert got["hits"] + got["misses"] == n_threads * n_calls
    assert len(memo._ENTRIES) == 4

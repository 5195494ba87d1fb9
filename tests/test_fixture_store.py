"""The session fixture store (functions/caching.materialized): content
keys, one build per key, and removal at exit."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from binlog_avro_comparator_spark.functions import caching

SF0001 = Path("/root/testdata/sf0.001")
REPO = Path(__file__).resolve().parent.parent


def _write_events(sf_dir: Path, n: int) -> None:
    t = pq.read_table(SF0001 / "events.parquet").slice(0, n)
    pq.write_table(t, sf_dir / "events.parquet")


@pytest.fixture
def sf_dir(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    _write_events(d, 200)
    return d


def test_rewritten_events_table_is_a_miss(spark, sf_dir):
    """Rewriting the events table in-process changes the fixture's key:
    the fixture-backed query sees the new rows, not a stale hit."""
    from binlog_avro_comparator_spark.plans.registry import queries

    q = queries()["cdc_avro_native_scan_jvm"]
    n200 = q(spark, str(sf_dir)).count()
    _write_events(sf_dir, 400)
    n400 = q(spark, str(sf_dir)).count()
    assert 0 < n200 < n400


def test_fixture_builds_once_per_content(spark, sf_dir, monkeypatch):
    """Two builds of one fixture in one session run its build once and
    return the same directory."""
    from binlog_avro_comparator_spark.plans import q_cdc

    calls = []
    derive = q_cdc.derive_avro_rows
    monkeypatch.setattr(
        q_cdc, "derive_avro_rows", lambda ev: calls.append(1) or derive(ev)
    )
    first = q_cdc._evolved_fixture_dir(spark, str(sf_dir))
    second = q_cdc._evolved_fixture_dir(spark, str(sf_dir))
    assert first == second and calls == [1]
    assert any(f.endswith(".avro") for f in os.listdir(first))


def test_store_keys_on_content_and_store_paths(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a").write_text("1")
    calls = []

    def build(d):
        calls.append(d)
        Path(d, "out").write_text(str(len(calls)))

    d1 = caching.materialized(None, "t_key", build, str(src))
    assert caching.materialized(None, "t_key", build, str(src)) == d1
    (src / "a").write_text("22")  # new size: a new key
    d2 = caching.materialized(None, "t_key", build, str(src))
    assert d2 != d1 and len(calls) == 2 and Path(d2, "out").read_text() == "2"
    # a store directory as a source is keyed by its path alone
    derived = caching.materialized(None, "t_derived", build, d1)
    assert caching.materialized(None, "t_derived", build, d1) == derived
    assert len(calls) == 3
    # a failed build leaves nothing behind and is retried
    with pytest.raises(RuntimeError):
        caching.materialized(None, "t_fail", _fail, str(src))
    assert not [n for n in os.listdir(caching._STORE_ROOT) if "t_fail" in n]


def _fail(d):
    Path(d, "partial").write_text("x")
    raise RuntimeError("build failed")


def test_exit_hook_removes_every_store_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(caching, "_STORE_ROOT", None)  # a root of its own
    src = tmp_path / "src"
    src.mkdir()
    made = [
        caching.materialized(None, "t_hook", lambda d: None, str(src)),
        caching.scratch_dir("t_run_"),
    ]
    root = caching._STORE_ROOT
    assert all(d.startswith(root + os.sep) and os.path.isdir(d) for d in made)
    caching._remove_store()
    assert not os.path.exists(root) and caching._STORE_ROOT is None


def test_interpreter_exit_removes_the_store(tmp_path):
    """The hook is registered with atexit: a process that made store
    directories leaves none behind (no Spark session needed)."""
    code = (
        "from binlog_avro_comparator_spark.functions import caching\n"
        f"d = caching.materialized(None, 't_exit', lambda d: None, {str(tmp_path)!r})\n"
        "print(caching.scratch_dir('t_run_'))\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    assert len(out) == 2 and not any(os.path.exists(d) for d in out)
    assert not os.path.exists(os.path.dirname(out[1]))

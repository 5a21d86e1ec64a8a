"""The Python-worker daemon: its archive reload rule without a JVM, the
session wiring that starts every worker through it, and worker start-up
from a working directory that does not contain the package."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from vaero_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def reread_calls(monkeypatch):
    """Install the wrapper around a counting stand-in for the original
    re-read; returns the list of importers it was called with."""
    calls = []
    original = worker_daemon._reread

    def counting(self):
        calls.append(self)
        original(self)

    monkeypatch.setattr(worker_daemon, "_reread", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    return calls


def test_unchanged_archive_is_not_reparsed(tmp_path, reread_calls):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    for _ in range(5):
        importer.invalidate_caches()
    assert reread_calls == [importer]  # first call stamps, the rest skip


def test_stamp_is_per_importer(tmp_path, reread_calls):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    first.invalidate_caches()
    second.invalidate_caches()
    assert reread_calls == [first, second]


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, monkeypatch, reread_calls):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"vaero_wd_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    importlib.import_module("vaero_wd_old")
    importlib.invalidate_caches()
    n_before = len(reread_calls)

    _write_zip(archive, {"vaero_wd_old": "X = 1\n", "vaero_wd_new": "Y = 2\n"})
    importlib.invalidate_caches()
    try:
        assert sys.path_importer_cache[archive] in reread_calls[n_before:]
        assert importlib.import_module("vaero_wd_new").Y == 2
    finally:
        for name in ("vaero_wd_old", "vaero_wd_new"):
            sys.modules.pop(name, None)


def test_missing_archive_falls_through_to_original(tmp_path, reread_calls):
    archive = tmp_path / "lib.zip"
    _write_zip(str(archive), {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    archive.unlink()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reread_calls == [importer] * 3
    assert importer._files == {}  # the original's answer for a missing archive


def test_workers_start_through_the_daemon(spark):
    """A session refactor that drops ``spark.python.daemon.module`` fails here."""

    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r.m for r in spark.range(2, numPartitions=2).mapInPandas(probe, "m string").collect()}
    assert got == {"vaero_spark.worker_daemon"}


def test_workers_find_package_from_any_cwd(tmp_path, sf_dir):
    """Workers start as ``python -m vaero_spark.worker_daemon``; with no
    ``PYTHONPATH`` and a foreign working directory they still find the
    package, so a plain ``mapInPandas`` and a ``stream_cep_match`` drain run."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import __spark_entry__ as E
        from vaero_spark.session import get_spark

        spark = get_spark("cwd_probe", master="local[2]", shuffle_partitions=2)

        def double(batches):
            for b in batches:
                yield b * 2

        assert spark.range(4).mapInPandas(double, "id long").count() == 4
        print("cep rows", E.queries()["stream_cep"](spark, {sf_dir!r}).count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "cep rows" in proc.stdout

"""Session helpers: the shipped package zip and the worker zipimport patch."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

import fusets_spark
from fusets_spark.session import patch_worker_zipimport

REPO = Path(fusets_spark.__file__).resolve().parent.parent


def test_ship_package_replaces_stale_zip():
    """A zip left at this process's path by an earlier process with the
    same pid is rebuilt from the current package, and removed at exit."""
    script = textwrap.dedent(
        """
        import json, os, zipfile
        from pathlib import Path
        from fusets_spark import session

        path = Path(f"/tmp/fusets_spark-{os.getpid()}.zip")
        path.write_bytes(b"stale")
        added = []

        class Ctx:
            addPyFile = staticmethod(added.append)

        class Spark:
            sparkContext = Ctx()

        session.ship_package(Spark())
        with zipfile.ZipFile(path) as zf:
            shipped = zf.read("fusets_spark/session.py").decode()
        print(json.dumps({"added": added, "path": str(path),
                          "fresh": shipped == Path(session.__file__).read_text()}))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, capture_output=True,
        text=True, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["added"] == [res["path"]]
    assert res["fresh"]
    assert not os.path.exists(res["path"])


@pytest.fixture
def zip_patch(monkeypatch):
    """Install the patch for one test and restore zipimport afterwards."""
    zi = zipimport.zipimporter
    monkeypatch.setattr(zi, "invalidate_caches", zi.invalidate_caches)
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    return zi


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this CPython re-reads zips lazily; the patch is not installed",
)
def test_zip_patch_rereads_only_changed_archives(zip_patch, monkeypatch, tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"fz_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("fz_mod_a").X == 1
        assert patch_worker_zipimport()
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert str(archive) not in reads

        _write_zip(archive, {"fz_mod_a": "X = 1\n", "fz_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("fz_mod_b").Y == 2
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
    finally:
        for name in ("fz_mod_a", "fz_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_zip_patch_gated(zip_patch, monkeypatch):
    original = zip_patch.invalidate_caches
    monkeypatch.delenv("SPARK_REUSE_WORKER")
    assert not patch_worker_zipimport()
    assert zip_patch.invalidate_caches is original

    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    monkeypatch.setattr(zip_patch, "_get_files", lambda self: {}, raising=False)
    assert not patch_worker_zipimport()
    assert zip_patch.invalidate_caches is original


def test_workers_install_zip_patch(spark):
    """After a package kernel has run, its reused workers run with the
    patch, so their later tasks skip the per-task zip re-read."""

    def probe(batches):
        import zipimport

        import fusets_spark  # noqa: F401 — installs the patch

        import pandas as pd

        zi = zipimport.zipimporter
        for _ in batches:
            yield pd.DataFrame({
                "patched": [zi.invalidate_caches.__module__ == "fusets_spark.session"],
                "lazy": [hasattr(zi, "_get_files")],
            })

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(probe, "patched boolean, lazy boolean")
        .collect()
    )
    assert rows
    assert all(r.patched != r.lazy for r in rows)

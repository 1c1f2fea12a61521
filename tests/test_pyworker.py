"""The worker daemon's zip-directory shim (hadoop_source_spark.pyworker):
unit cases without Spark, then the wiring ``get_spark`` sets up."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from hadoop_source_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHES = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with one module on sys.path, the shim installed, and every
    ``zipimport._read_directory`` call recorded; all undone afterwards."""
    archive = str(tmp_path / "shimtest.zip")
    mod = f"shim_mod_{tmp_path.name.replace('-', '_')}"
    _write_zip(archive, {mod: "VALUE = 1\n"})
    # registers the original method for restore at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert pyworker.install() is PATCHES
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    yield archive, mod, reads
    for name in list(sys.modules):
        if name.startswith(mod):
            del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    pyworker._stamps.pop(archive, None)


@pytest.mark.skipif(PATCHES, reason="CPython < 3.13 takes the patch")
def test_install_patches_nothing_on_313():
    original = zipimport.zipimporter.invalidate_caches
    assert pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is original


@pytest.mark.skipif(not PATCHES, reason="CPython >= 3.13 needs no shim")
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, mod, reads = zip_on_path
    assert importlib.import_module(mod).VALUE == 1
    importlib.invalidate_caches()  # first sight: read once and stamped
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    assert sys.path_importer_cache[archive]._files is zipimport._zip_directory_cache[archive]


@pytest.mark.skipif(not PATCHES, reason="CPython >= 3.13 needs no shim")
def test_rewritten_archive_is_reread(zip_on_path):
    archive, mod, reads = zip_on_path
    assert importlib.import_module(mod).VALUE == 1
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, {mod: "VALUE = 1\n", mod + "_new": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(mod + "_new").VALUE == 2


@pytest.mark.skipif(not PATCHES, reason="CPython >= 3.13 needs no shim")
def test_deleted_archive_takes_original_path(zip_on_path):
    archive, mod, reads = zip_on_path
    assert importlib.import_module(mod).VALUE == 1
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    assert sys.path_importer_cache[archive]._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in pyworker._stamps


def _probe_shim(_):
    import zipimport

    from hadoop_source_spark import pyworker

    yield zipimport.zipimporter.invalidate_caches is pyworker._invalidate_caches


def test_session_workers_run_the_shim(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "hadoop_source_spark.pyworker"
    assert REPO in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    got = spark.sparkContext.parallelize([0], 1).mapPartitions(_probe_shim).collect()
    assert got == [PATCHES]


def test_addpyfile_zip_imports_on_started_workers(spark, tmp_path):
    """PySpark invalidates import caches before every task so that an archive
    added after the workers started is importable; the shim keeps that."""
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 4).map(lambda x: x + 1).sum() == 10
    mod = f"late_mod_{tmp_path.name.replace('-', '_')}"
    archive = tmp_path / f"{mod}.zip"
    _write_zip(str(archive), {mod: "def f(x):\n    return x * 7\n"})
    sc.addPyFile(str(archive))

    def use(x):
        return importlib.import_module(mod).f(x)

    assert sorted(sc.parallelize(range(4), 4).map(use).collect()) == [0, 7, 14, 21]


_OUTSIDE_SCRIPT = r"""
import json, os, sys
repo, extra = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from hadoop_source_spark import get_spark
spark = get_spark(app_name="pyworker-cwd", cpus=1, driver_memory="1g",
                  extra_conf={"spark.executorEnv.PYTHONPATH": extra})
spark.sparkContext.setLogLevel("ERROR")

def probe(_):
    import os, zipimport
    import extra_mod
    from hadoop_source_spark import pyworker
    yield {"shim": zipimport.zipimporter.invalidate_caches is pyworker._invalidate_caches,
           "cwd": os.getcwd(), "extra": extra_mod.TAG,
           "path": os.environ.get("PYTHONPATH", "")}

print("RESULT " + json.dumps(spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()))
spark.stop()
"""


def test_shim_imports_from_a_cwd_outside_the_repo(tmp_path):
    """Workers find the daemon module through the PYTHONPATH get_spark sets,
    not through the working directory, and a caller's PYTHONPATH is kept."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "extra_mod.py").write_text("TAG = 'caller-path'\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT, REPO, str(extra)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    line = next((x for x in out.stdout.splitlines() if x.startswith("RESULT ")), None)
    assert line, out.stderr[-3000:]
    [got] = json.loads(line[len("RESULT "):])
    assert got["shim"] is PATCHES
    assert got["extra"] == "caller-path"
    assert not os.path.realpath(got["cwd"]).startswith(os.path.realpath(REPO))
    assert str(extra) in got["path"].split(os.pathsep)

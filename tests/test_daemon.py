"""The engine's Python worker daemon, without a Spark session.

``trendengine_spark._daemon.invalidate_caches`` replaces
``zipimporter.invalidate_caches`` inside the daemon: it re-reads a zip
archive's directory only when the archive's (mtime, size) changed, and
falls through to the stock method when the archive is gone.
``session.python_worker_conf`` decides which masters get the daemon.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from trendengine_spark import _daemon
from trendengine_spark.session import python_worker_conf

DAEMON = "spark.python.daemon.module"
PYPATH = "spark.executorEnv.PYTHONPATH"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_importer(tmp_path, monkeypatch):
    """A zip on ``sys.path`` with one imported module, the patched
    ``invalidate_caches`` in place and ``_read_directory`` calls
    counted per archive."""
    path = str(tmp_path / "daemon_probe.zip")
    _write_zip(path, ["te_daemon_probe_a"])
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    assert importlib.import_module("te_daemon_probe_a").NAME == "te_daemon_probe_a"
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, sys.path_importer_cache[path], reads
    for name in ("te_daemon_probe_a", "te_daemon_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zip_importer):
    path, importer, reads = zip_importer
    importer.invalidate_caches()  # first call: no stamp yet, one read
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_rewritten_archive_is_reread(zip_importer):
    path, importer, reads = zip_importer
    importer.invalidate_caches()
    st = os.stat(path)

    # a new size under the old mtime
    _write_zip(path, ["te_daemon_probe_a", "te_daemon_probe_b"])
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert reads.count(path) == 2
    assert importlib.import_module("te_daemon_probe_b").NAME == "te_daemon_probe_b"

    # a new mtime under the same size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(path) == 3
    importlib.invalidate_caches()
    assert reads.count(path) == 3


def test_deleted_archive_falls_through_to_stock(zip_importer, monkeypatch):
    path, importer, _ = zip_importer
    importer.invalidate_caches()
    stock = _daemon._stock_invalidate
    stock_calls = []

    def spy(self):
        stock_calls.append(self.archive)
        return stock(self)

    monkeypatch.setattr(_daemon, "_stock_invalidate", spy)
    os.remove(path)
    importer.invalidate_caches()
    assert stock_calls == [path]
    assert importer._files == {}  # the stock method's answer to a missing archive


@pytest.mark.parametrize("master", ["local", "local[4]", "local-cluster[2,1,1024]"])
def test_local_masters_get_the_daemon(master):
    conf = python_worker_conf(master, {})
    assert conf[DAEMON] == "trendengine_spark._daemon"
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(_daemon.__file__)))
    assert conf[PYPATH] == pkg_parent


@pytest.mark.parametrize("master", ["yarn", "spark://host:7077", "k8s://https://host:6443"])
def test_other_masters_keep_pyspark_daemon(master):
    extra = {"spark.driver.maxResultSize": "8g"}
    assert python_worker_conf(master, extra) == extra
    assert python_worker_conf(master, {}) == {}


def test_caller_conf_is_kept_and_wins():
    extra = {PYPATH: "/srv/libs", DAEMON: "pyspark.daemon", "spark.x": "1"}
    conf = python_worker_conf("local[4]", extra)
    assert conf[DAEMON] == "pyspark.daemon"
    assert conf["spark.x"] == "1"
    paths = conf[PYPATH].split(os.pathsep)
    assert paths[0] == "/srv/libs" and len(paths) == 2
    assert extra[PYPATH] == "/srv/libs"  # the caller's dict is not changed


def test_daemon_imports_from_any_cwd(tmp_path):
    """The daemon starts as ``python -m trendengine_spark._daemon``
    before ``addPyFile`` lands: the conf's PYTHONPATH alone must make
    it importable from a cwd outside the checkout."""
    conf = python_worker_conf("local[4]", {})
    env = {**os.environ, "PYTHONPATH": conf[PYPATH]}
    probe = "import importlib.util as u; print(u.find_spec(%r).origin)" % conf[DAEMON]
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == os.path.abspath(_daemon.__file__)

"""catalog._ship_package under concurrent first use of one session."""

from __future__ import annotations

import glob
import os
import tempfile
import threading
import time
import zipfile
from types import SimpleNamespace

import mapreduce_docker_spark as pkg
from mapreduce_docker_spark.sources import catalog


def test_ship_package_concurrent_first_use(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(catalog, "_SHIPPED_APPS", set())
    shipped: list[set[str]] = []

    def add_py_file(path):
        with zipfile.ZipFile(path) as z:  # the archive must be whole here
            shipped.append(set(z.namelist()))
        time.sleep(0.05)  # widen the window for a second caller

    ctx = SimpleNamespace(applicationId="fake-app", addPyFile=add_py_file)
    barrier = threading.Barrier(8)

    def client():
        barrier.wait()
        catalog._ship_package(SimpleNamespace(sparkContext=ctx))

    threads = [threading.Thread(target=client) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    pkg_dir = os.path.dirname(pkg.__file__)
    py = glob.glob("**/*.py", root_dir=pkg_dir, recursive=True)
    assert shipped == [{os.path.join(pkg.__name__, p) for p in py}]

"""The engine's PySpark worker daemon (worker_daemon.py): workers skip
re-reading unchanged zip archives on sys.path at every task start."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from distributed_system_spark import worker_daemon

_REPO = Path(__file__).resolve().parents[1]

# a mapInPandas reporting the worker's zipimporter.invalidate_caches
# as "<file>:<qualname>"; source text so the subprocess runs it too
_WORKER_FN = r"""
def worker_invalidate(it):
    import zipimport

    import pandas as pd

    fn = zipimport.zipimporter.invalidate_caches
    where = f"{fn.__code__.co_filename}:{fn.__qualname__}"
    for _ in it:
        yield pd.DataFrame({"where": [where]})
"""
_ENGINE_FN = "distributed_system_spark/worker_daemon.py:_lazy_invalidate_caches"


def test_session_workers_run_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    scope: dict = {}
    exec(_WORKER_FN, scope)
    (row,) = (
        spark.range(1).mapInPandas(scope["worker_invalidate"], "where string").collect()
    )
    # CPython 3.12 re-reads lazily by itself; the daemon leaves it be
    assert row.where.endswith(_ENGINE_FN) == (sys.version_info < (3, 12)), row.where


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_on_sys_path_is_reread_only_when_it_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"graft_daemon_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon._lazy_invalidate_caches,
    )
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("graft_daemon_a").X == 1
        importlib.invalidate_caches()  # the first call stamps the archive
        before = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == before

        _write_zip(archive, {"graft_daemon_a": "X = 1\n", "graft_daemon_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == before + 1
        assert importlib.import_module("graft_daemon_b").Y == 2
    finally:
        for name in ("graft_daemon_a", "graft_daemon_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


_SCRIPT = (
    r"""
import sys
sys.path.insert(0, sys.argv[1])
from distributed_system_spark.session import get_spark
"""
    + _WORKER_FN
    + r"""
spark = get_spark("daemon-cwd-test", master="local[2]")
(row,) = spark.range(1).mapInPandas(worker_invalidate, "where string").collect()
print("WORKER", row.where)
spark.stop()
"""
)


def test_workers_import_the_daemon_from_any_cwd(tmp_path):
    """A session started outside the checkout, with PYTHONPATH unset,
    still finds the daemon module: get_spark puts the package's parent
    on the workers' PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(_REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    where = [ln for ln in out.stdout.splitlines() if ln.startswith("WORKER ")]
    assert where, out.stdout + out.stderr[-4000:]
    assert where[0].endswith(_ENGINE_FN) == (sys.version_info < (3, 12)), where

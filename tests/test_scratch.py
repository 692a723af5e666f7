"""Scratch space (scratch.py): one root per process, removed at exit,
keyed by the sources' stats, and the roots of killed runs swept."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException

from distributed_system_spark import scratch

_REPO = Path(__file__).resolve().parents[1]


def test_keyed_dir_sees_a_sub_second_rewrite(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"a" * 64)
    second = 1_700_000_000 * 10**9
    os.utime(src, ns=(second, second + 100))
    first = scratch.keyed_dir("keytest", str(src))
    assert os.path.isdir(first)
    assert os.path.dirname(first) == scratch.root()
    assert scratch.keyed_dir("keytest", str(src)) == first
    assert scratch.keyed_dir("keytest", str(src), extra="2") != first
    # same size, same whole second: only mtime_ns tells them apart
    src.write_bytes(b"b" * 64)
    os.utime(src, ns=(second, second + 500_000_000))
    assert scratch.keyed_dir("keytest", str(src)) != first


def test_keyed_dir_of_a_directory_follows_its_visible_files(tmp_path):
    src = tmp_path / "orders.parquet"
    (src / "o_orderstatus=F").mkdir(parents=True)
    part = src / "o_orderstatus=F" / "part-0.parquet"
    part.write_bytes(b"x" * 32)
    (src / "part-1.parquet").write_bytes(b"y" * 32)
    first = scratch.keyed_dir("dirtest", str(src))
    (src / ".part-1.parquet.crc").write_bytes(b"c")
    assert scratch.keyed_dir("dirtest", str(src)) == first
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1000))
    assert scratch.keyed_dir("dirtest", str(src)) != first


def test_fresh_dir_is_new_on_every_call():
    a, b = scratch.fresh_dir("freshtest"), scratch.fresh_dir("freshtest")
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b) == scratch.root()
    assert os.listdir(a) == os.listdir(b) == []


_HOLD = r"""
import sys
sys.path.insert(0, sys.argv[1])
from distributed_system_spark import scratch
print(scratch.root(), flush=True)
sys.stdin.read()
"""


def _holder() -> tuple[subprocess.Popen, str]:
    """A process that makes its root, prints it and waits on stdin."""
    p = subprocess.Popen(
        [sys.executable, "-c", _HOLD, str(_REPO)],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    return p, p.stdout.readline().strip()


def _first_use() -> None:
    subprocess.run(
        [sys.executable, "-c", _HOLD, str(_REPO)],
        input="",
        capture_output=True,
        check=True,
        timeout=60,
    )


def test_first_use_sweeps_only_the_roots_of_dead_runs():
    for name in ("dss-scale", "dss-sigidx-0a1b2c3d4e5f", "dss-bench-sf1-p42"):
        assert not scratch._ROOT_NAME.fullmatch(name), name
    mine = scratch.root()
    old_style = tempfile.mkdtemp(prefix="dss-sigidx-", dir="/tmp")
    dead, dead_root = _holder()
    live, live_root = _holder()
    try:
        dead.kill()
        dead.wait(timeout=30)
        assert os.path.isdir(dead_root)  # SIGKILL skips atexit
        _first_use()
        assert not os.path.exists(dead_root)
        assert os.path.isdir(live_root)
        assert os.path.isdir(old_style)
        assert os.path.isdir(mine)
    finally:
        live.communicate("", timeout=60)
        shutil.rmtree(old_style, ignore_errors=True)
    assert live.returncode == 0
    assert not os.path.exists(live_root)  # removed at its exit


_STREAM = r"""
import sys
sys.path.insert(0, sys.argv[1])
from distributed_system_spark.session import get_spark
from distributed_system_spark.streaming.streams import signature_index_stream
spark = get_spark("scratch-stale-read", master="local[2]")
print("ROWS", signature_index_stream(spark, sys.argv[2]).count())
spark.stop()
"""


def test_stream_state_does_not_outlive_its_process(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A stream's checkpoint and index from a run that has exited are
    never read again: the same query in a new process runs its current
    code, which here raises."""
    from distributed_system_spark.operators import dedup
    from distributed_system_spark.streaming.streams import (
        signature_index_stream,
    )

    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", _STREAM, str(_REPO), str(tmp_path)],
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS " in out.stdout, out.stdout + out.stderr[-4000:]

    def broken(*args, **kwargs):
        raise RuntimeError("the current doc_token_sets ran")

    monkeypatch.setattr(dedup, "doc_token_sets", broken)
    with pytest.raises(StreamingQueryException, match="current doc_token"):
        signature_index_stream(spark, str(tmp_path)).collect()

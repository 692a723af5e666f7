"""Bench-tooling helper coverage: tools/diskbound.py phase reports
(pure Python) and bench.py's per-query checkpoint cleanup."""

from __future__ import annotations


def _load_diskbound():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "diskbound", "/root/repo/tools/diskbound.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_phase_report_attributes_aborted_phase_to_child_exit(tmp_path):
    """A phase the abort valve cuts short leaves an entry stamp
    (t1 null) with no exit stamp; the report must charge its partial
    window to the phase — marked aborted — rather than folding it
    into the synthetic readout remainder (the first sf1000d day-0
    abort reported 1490 s of day-0 work as 'readout')."""
    import json

    db = _load_diskbound()
    log = tmp_path / "phases.jsonl"
    log.write_text(
        json.dumps({"phase": "day0", "t0": 100.0, "t1": None})
        + "\n"
        + json.dumps({"phase": "day0", "t0": 100.0, "t1": 200.0})
        + "\n"
        + json.dumps({"phase": "day1", "t0": 200.0, "t1": None})
        + "\n"
    )
    samples = [(float(t), (t - 90) * 2**30) for t in range(95, 260, 5)]
    report = db._phase_report(str(log), samples, 250.0)
    assert set(report) == {"day0", "day1 (aborted)"}
    assert report["day0"]["wall_sec"] == 100.0
    assert report["day1 (aborted)"]["wall_sec"] == 50.0
    # no spurious synthetic readout after an aborted tail phase
    assert "readout" not in report


def test_phase_report_closed_windows_still_get_readout(tmp_path):
    import json

    db = _load_diskbound()
    log = tmp_path / "phases.jsonl"
    log.write_text(
        json.dumps({"phase": "day0", "t0": 100.0, "t1": None})
        + "\n"
        + json.dumps({"phase": "day0", "t0": 100.0, "t1": 200.0})
        + "\n"
    )
    samples = [(float(t), (t - 90) * 2**30) for t in range(95, 260, 5)]
    report = db._phase_report(str(log), samples, 250.0)
    assert set(report) == {"day0", "readout"}
    assert report["readout"]["wall_sec"] == 50.0


def test_time_query_leaves_no_persistent_rdds(spark):
    """_time_query must drop every persisted RDD block after the wall
    is captured (r13 measurement hygiene): the shared-subtree
    localCheckpoints several queries build are never unpersisted by
    the query itself, and leftovers accumulating across a 60-query
    bench JVM compete with execution memory, polluting later
    queries' timings."""
    from bench import _time_query
    from distributed_system_spark.queries import load_all

    registry = load_all()
    # dedup_minhash_ctrl builds several localCheckpoints (band table,
    # token-set table) — representative of the leftover class.
    t = _time_query(
        spark, registry, "dedup_minhash_ctrl", "/root/testdata/sf0.001"
    )
    assert t > 0
    leftover = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert leftover == 0, f"{leftover} persisted RDDs survived"

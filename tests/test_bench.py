"""bench.py: per-query checkpoint cleanup and the size of the record it
prints."""

from __future__ import annotations

import json

from bench import HEADLINE, SF1_SUBSET, format_record

CONTRACT_KEYS = ["metric", "unit", "best_of", "sf", "queries", "value"]


def test_time_query_leaves_no_persistent_rdds(spark, sf_dir):
    """_time_query must drop every persisted RDD block after the wall
    is captured: the shared-subtree localCheckpoints several queries
    build are never unpersisted by the query itself, and leftovers
    accumulating across a 60-query bench JVM compete with execution
    memory, polluting later queries' timings."""
    from bench import _time_query
    from distributed_system_spark.queries import load_all

    registry = load_all()
    # dedup_minhash_ctrl builds several localCheckpoints (band table,
    # token-set table) — representative of the leftover class.
    t = _time_query(spark, registry, "dedup_minhash_ctrl", sf_dir)
    assert t > 0
    leftover = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert leftover == 0, f"{leftover} persisted RDDs survived"


def test_worst_case_record_fits_capture_window():
    """The driver keeps the last 2000 chars of bench output.  With every
    headline time at 99.99 s and every sf1 time at 999.99 s, both lines
    together (as printed, newline included) stay within 1900 chars and
    parse whole."""
    out = format_record(
        0.1,
        {n: 99.99 for n in HEADLINE},
        sf1_cpus=9999,
        sf1_times=[999.99] * len(SF1_SUBSET),
    ) + "\n"
    assert len(out) <= 1900, len(out)
    sf1, contract = (json.loads(line) for line in out.splitlines())
    assert list(contract) == CONTRACT_KEYS
    assert contract["queries"] == {n: 99.99 for n in HEADLINE}
    assert len(sf1["sf1_times"]) == len(SF1_SUBSET)


def test_record_rounds_and_sums_printed_times():
    out = format_record(1.0, {"a": 1.234, "b": 2.346})
    assert "\n" not in out  # no sf1 times: the contract line alone
    rec = json.loads(out)
    assert list(rec) == CONTRACT_KEYS
    assert rec["queries"] == {"a": 1.23, "b": 2.35}
    assert rec["value"] == 3.58


def test_sf1_subset_is_benched_and_registered():
    from distributed_system_spark.queries import load_all

    assert set(SF1_SUBSET) <= set(HEADLINE)
    assert len(set(HEADLINE)) == len(HEADLINE)
    assert not set(HEADLINE) - set(load_all())


def test_sf1_build_failure_is_reported(monkeypatch, capsys):
    """A failed sf1 build prints its traceback to stderr and yields no
    sf1 times, so main still prints the contract line."""
    from bench import _sf1_times
    from tools import scaleup

    def broken_build(*args, **kwargs):
        raise OSError("no room for sf1")

    monkeypatch.setattr(scaleup, "build", broken_build)
    assert _sf1_times(None, {}, "unused") is None
    assert "OSError: no room for sf1" in capsys.readouterr().err

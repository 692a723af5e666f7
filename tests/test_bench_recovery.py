"""Bench-tooling helper coverage: bench.py's per-query checkpoint
cleanup."""

from __future__ import annotations


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

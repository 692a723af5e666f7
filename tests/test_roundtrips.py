"""Driver->JVM round-trip budgets for building queries.

Every PySpark DataFrame or Column call is at least one py4j message to
the JVM (0.3-1.4 ms each), paid before any Spark work runs.  These
tests count the messages a build sends, so a change that reintroduces
per-Column construction in a hot builder fails here instead of only
showing as a slower wall."""

from __future__ import annotations

import py4j.clientserver

from distributed_system_spark.operators.dedup import (
    doc_token_sets,
    minhash_band_signatures_sets,
)
from distributed_system_spark.queries import load_all
from distributed_system_spark.sources.tables import load_table

# One SQL string through selectExpr: 7 messages measured, 472 for the
# Column-object build it replaced (both at 8 hashes, 2 rows per band).
BAND_BUILD_ROUND_TRIPS = 10
# Half the 1748 measured before the band build went to SQL text and
# PySpark's per-call origin capture was turned off; 339 after.
DEDUP_MINHASH_CTRL_ROUND_TRIPS = 874


def _round_trips(monkeypatch, fn) -> int:
    """Messages ``fn()`` sends to the JVM, not counting the object
    detaches py4j's garbage-collection thread sends on its own."""
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(
            py4j.clientserver.ClientServerConnection, "send_command", counting
        )
        fn()
    return sent[0]


def test_band_build_round_trips(spark, sf_dir, monkeypatch):
    sets_ = doc_token_sets(load_table(spark, sf_dir, "documents"))
    n = _round_trips(monkeypatch, lambda: minhash_band_signatures_sets(sets_))
    assert n <= BAND_BUILD_ROUND_TRIPS, n


def test_dedup_minhash_ctrl_construction_round_trips(spark, sf_dir, monkeypatch):
    fn = load_all()["dedup_minhash_ctrl"].fn
    fn(spark, sf_dir)  # first build infers and caches the table schema
    n = _round_trips(monkeypatch, lambda: fn(spark, sf_dir))
    assert n <= DEDUP_MINHASH_CTRL_ROUND_TRIPS, n

"""queries.verification_order over CORRECTNESS rows written to a
temporary directory, and the freshness of the committed plan
fingerprints it reads."""

from __future__ import annotations

import json
from pathlib import Path

from distributed_system_spark.queries import (
    FINGERPRINTS,
    REGISTRY,
    _interleaved,
    correctness_rounds,
    last_green_rounds,
    load_all,
    verification_order,
)

WINDOW = 50
GREEN = dict(rows_match=True, schema_match=True, hash_match=True, err=None)
NO_ORACLE = dict(rows_match=None, schema_match=None, hash_match=None,
                 err="no_oracle")
HASH_MISMATCH = {**GREEN, "hash_match": False}
CRASHED = {**NO_ORACLE, "err": "Traceback ..."}

load_all()  # fill REGISTRY
ROUND_ROBIN = list(_interleaved(REGISTRY))


def _write_round(root: Path, n: int, rows: dict[str, dict]) -> None:
    (root / f"CORRECTNESS_r{n}.json").write_text(json.dumps(rows))


def _windows(root: Path) -> int:
    """Rounds 1..k, each green on the next 50 round-robin names, as if
    every window so far had passed; returns k."""
    chunks = [
        ROUND_ROBIN[i : i + WINDOW] for i in range(0, len(ROUND_ROBIN), WINDOW)
    ]
    for n, chunk in enumerate(chunks, start=1):
        _write_round(root, n, {name: GREEN for name in chunk})
    return len(chunks)


def _order(root: Path, fingerprints: dict | None = None) -> list[str]:
    fp_path = root / "fingerprints.json"
    if fingerprints is not None:
        fp_path.write_text(json.dumps(fingerprints))
    return list(verification_order(REGISTRY, root, fp_path))


def test_no_files_is_round_robin(tmp_path):
    assert _order(tmp_path) == ROUND_ROBIN


def test_changed_plan_enters_the_window(tmp_path):
    """A name whose ``since`` is at or past its newest green round has
    no green row for its current plan, so it comes first."""
    k = _windows(tmp_path)
    name = ROUND_ROBIN[-1]
    assert name not in _order(tmp_path)[:WINDOW]
    for since in (k, k + 1):
        order = _order(tmp_path, {name: ["fp", since]})
        assert order[0] == name
    # one round older than its green row: that row still counts
    assert name not in _order(tmp_path, {name: ["fp", k - 1]})[:WINDOW]


def test_newest_round_rotates_to_the_back(tmp_path):
    k = _windows(tmp_path)
    window = _order(tmp_path)[:WINDOW]
    _write_round(tmp_path, k + 1, {name: GREEN for name in window})
    order = _order(tmp_path)
    assert set(order[-WINDOW:]) == set(window)
    assert set(order[:WINDOW]).isdisjoint(window)


def test_no_oracle_rows_count_as_green(tmp_path):
    k = _windows(tmp_path)
    a, b, c = _order(tmp_path)[:3]
    _write_round(
        tmp_path, k + 1, {a: NO_ORACLE, b: HASH_MISMATCH, c: CRASHED}
    )
    rounds = correctness_rounds(tmp_path)
    last = last_green_rounds(rounds, {})
    assert last[a] == k + 1
    assert last[b] < k + 1 and last[c] < k + 1
    order = _order(tmp_path)
    assert order[-1] == a
    assert order[:2] == [b, c]


def test_real_tree_window_holds_the_least_recently_verified():
    """On the committed CORRECTNESS rows and fingerprints, no name
    inside the window was verified more recently than a name outside
    it (names at the boundary may share a round)."""
    since = {n: s for n, (_, s) in json.loads(FINGERPRINTS.read_text()).items()}
    assert set(since) == set(REGISTRY)
    last = last_green_rounds(correctness_rounds(), since)
    order = list(load_all())
    inside = [last.get(n, 0) for n in order[:WINDOW]]
    outside = [last.get(n, 0) for n in order[WINDOW:]]
    assert max(inside) <= min(outside)


def test_fingerprints_are_fresh(spark, sf_dir):
    """Every committed plan fingerprint matches the query's current
    plans, so a plan change cannot skip the verification window."""
    from tools.explain import fingerprints

    committed = {
        n: fp for n, (fp, _) in json.loads(FINGERPRINTS.read_text()).items()
    }
    got = fingerprints(spark, sf_dir)
    stale = sorted(
        n for n in got.keys() | committed.keys() if got.get(n) != committed.get(n)
    )
    assert not stale, (
        f"plan fingerprints changed for {stale}: run `python "
        "tools/explain.py --fingerprints` and commit "
        "distributed_system_spark/queries/fingerprints.json"
    )

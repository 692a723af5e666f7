"""Tests of the benchmark's own logic: the event-log reducer, the
correctness gate and the tail-percentile rule.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
No Spark session is started.
"""

from __future__ import annotations

import argparse
import os
import sys

import pandas as pd
import pytest

import eventlog
import run
import workloads

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "sf0001")
EVENTLOG = os.path.join(FIXTURE, "eventlog")


@pytest.fixture(scope="module")
def traces():
    return eventlog.reduce_dir(EVENTLOG)


def test_fixture_is_found_in_rolling_layout():
    files = eventlog.log_files(EVENTLOG)
    assert [os.path.basename(f) for f in files] == ["events_1_local-fixture"]


def test_jobs_map_to_their_job_group(traces):
    assert set(traces) == {
        "p1.0.dedup_minhash_ctrl", "p1.1.prep_pipeline", "p1.2.put",
        "p1.3.append", "p1.4.get",
    }
    assert [len(traces[g].jobs) for g in sorted(traces)] == [8, 16, 2, 2, 3]


def test_stage_task_and_skip_counts(traces):
    dedup = traces["p1.0.dedup_minhash_ctrl"]
    assert (dedup.stages, dedup.stages_skipped, dedup.tasks) == (8, 1, 13)
    assert sorted(dedup.stage_tasks.values()) == [1, 1, 1, 2, 2, 2, 2, 2]
    prep = traces["p1.1.prep_pipeline"]
    # prep_pipeline's reused subtree shows as skipped stages.
    assert (prep.stages, prep.stages_skipped, prep.tasks) == (16, 15, 16)


def test_task_metric_sums(traces):
    dedup = traces["p1.0.dedup_minhash_ctrl"]
    assert dedup.task_run_ms == 3420
    assert dedup.task_cpu_ns == 2198657712
    assert dedup.gc_ms == 81
    assert dedup.shuffle_write_bytes == 636
    assert dedup.spill_bytes == 0
    assert dedup.input_bytes == 1113730
    assert traces["p1.1.prep_pipeline"].shuffle_write_bytes == 426700


def test_checkpoint_jobs_and_job_overlap(traces):
    dedup = traces["p1.0.dedup_minhash_ctrl"]
    assert dedup.checkpoint_jobs == 3
    assert dedup.busy_ms(checkpoint_only=True) == 1921
    # Concurrent builds overlap: summed job walls exceed their union.
    assert (dedup.job_wall_ms(), dedup.busy_ms()) == (3688, 3573)
    append = traces["p1.3.append"]
    assert append.checkpoint_jobs == 0
    assert append.job_wall_ms() == append.busy_ms() == 239


def test_jobs_before_and_since_split_construction(traces):
    append = traces["p1.3.append"]
    first, second = sorted(j.submit_ms for j in append.jobs)
    assert append.jobs_before(second) == 1
    assert append.busy_ms(since_ms=second) < append.busy_ms()


def test_best_pass_sums_per_op_minimums():
    records = [
        {"pass": p, "op": op, "net_s": w}
        for p, walls in ((1, (1.0, 2.0, 0.5)), (2, (1.2, 9.0, 0.7)),
                         (3, (1.1, 2.2, 0.6)))
        for op, w in zip(("a", "b", "a"), walls)
    ]
    # a#1 -> 1.0, b#1 -> 2.0, a#2 -> 0.5: the 9.0 outlier moves nothing.
    assert run.best_pass_s(records) == pytest.approx(3.5)


def test_union_ms_merges_overlaps():
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog.union_ms([]) == 0


def test_tail_quantile_leaves_ten_samples_beyond():
    assert run.tail_quantile(1000) == 0.99
    assert run.tail_quantile(72) == 0.75
    assert run.tail_quantile(100) == 0.9
    assert run.tail_quantile(15) == 0.5
    assert run.percentile([1, 2, 3, 4], 0.5) == 2.5


def test_stolen_share_is_steal_over_busy_plus_steal():
    before = [100, 0, 50, 400, 7, 0, 0, 10]
    after = [160, 0, 70, 480, 9, 0, 0, 30]
    # Idle and iowait ticks do not count: 20 stolen of 80 busy + 20.
    assert run.stolen_share(before, after) == pytest.approx(20 / 100)
    assert run.stolen_share(before, before) == 0.0


class _StubContext:
    """The part of SparkContext that ``Run.run_op`` touches."""

    class _jsc:
        @staticmethod
        def getPersistentRDDs():
            return {}

    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


def _stub_run() -> run.Run:
    bench = run.Run(argparse.Namespace(trace=0, seed=1, seconds=1))
    bench.sc = _StubContext()
    return bench


def test_corrupted_expected_output_counts_as_failure():
    sys.path.insert(0, run.ROOT)
    check = run.OracleCheck()
    got = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    good = got.sample(frac=1, random_state=0)  # order must not matter
    bad = good.copy()
    bad.loc[bad.index[0], "score"] += 1e-9

    def gate_op(want):
        def fn(rec):
            ok, why = check.compare(got, want)
            workloads.expect(ok, why)

        return fn

    bench = _stub_run()
    bench.run_op(workloads.Op("q", "gate", gate_op(good)), 0, 0, timed=False)
    bench.run_op(workloads.Op("q", "gate", gate_op(bad)), 0, 1, timed=False)
    res = run.result(bench.records, {})
    assert (res["attempted"], res["failed"], res["correct"]) == (2, 1, False)
    assert "float mismatch" in bench.records[1]["error"]


def test_raising_op_counts_as_failure():
    def boom(rec):
        raise RuntimeError("executor lost")

    bench = _stub_run()
    bench.run_op(workloads.Op("q", "query", boom), 1, 0, timed=True)
    assert run.result(bench.records, {})["failed"] == 1


def test_store_read_check_rejects_wrong_totals():
    store = object.__new__(workloads.StoreIngest)
    store.expected = (100, 2550.0, 3)
    store._expect_totals(100, 2550.0)
    with pytest.raises(workloads.OutputMismatch):
        store._expect_totals(99, 2550.0)
    with pytest.raises(workloads.OutputMismatch):
        store._expect_totals(100, 2549.0)


def _fixture_window(bench: run.Run) -> None:
    """The fixture's ops as one timed, traced pass."""
    import json

    with open(os.path.join(FIXTURE, "records.json"), encoding="utf-8") as fh:
        bench.records = json.load(fh)
    for r in bench.records:  # captured with no steal
        r["net_s"] = r["wall_s"]
    bench.run_dir = FIXTURE
    bench.sc.defaultParallelism = 4
    bench.phases = {"setup_s": 30.0, "session.launch_s": 8.0, "session.warm_s": 20.0}
    bench.peak_rss_mb = 1500.0
    bench.min_passes = 1
    bench.passes = [{"pass": 1, "wall_s": sum(r["wall_s"] for r in bench.records),
                     "ops": len(bench.records), "event_files": 2}]


def _declared(kind: str) -> list[str]:
    import json

    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def test_layer_metrics_over_fixture_match_benchmark_json():
    bench = _stub_run()
    _fixture_window(bench)
    assert list(bench.end_to_end()) == _declared("end_to_end")
    layers = {k: v for k, (v, _unit) in bench.layer_metrics().items()}
    assert list(layers) == _declared("per_layer")
    assert (layers["spark.jobs"], layers["spark.tasks"]) == (31, 37)
    assert layers["operators.checkpoint_jobs"] == 4
    # dedup_minhash_ctrl runs 7 of its 8 jobs while it is being built.
    assert layers["queries.construct_jobs"] == 7 + 2 + 1 + 1 + 1
    assert layers["store.files_per_read"] == 2
    assert layers["store.write_amp"] == pytest.approx(
        (57700 + 58622) / (65995 + 67062))
    assert layers["store.residue_bytes"] == 0
    probe_s = sum(r.get("trace_s", 0.0) for r in bench.records)
    wall = bench.passes[0]["wall_s"]
    assert layers["trace.overhead"] == pytest.approx(wall / (wall - probe_s))
    assert layers["trace.overhead"] > 1

"""Capture the reducer test's event-log fixture at sf0.001.

    python3 perfbench/fixtures/capture.py <sf0.001-dir>

Runs two curation queries and a store put/append/get through the
benchmark's own ``Run.run_op`` with tracing on, one op per job group as
in a timed pass, then keeps the events the reducer reads, stripped of
the fields it does not and of the checkout's absolute path, in
``sf0001/eventlog/``, and the op records in ``sf0001/records.json``.  ``<sf0.001-dir>`` is the sf0.001 directory
of the repository's test data (see TESTDATA.md), with ``documents``
and ``lineitem``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

OUT = os.path.join(HERE, "sf0001")
QUERIES = ("dedup_minhash_ctrl", "prep_pipeline")
TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time",
    "Disk Bytes Spilled", "Shuffle Write Metrics", "Input Metrics",
)


def slim(ev: dict) -> dict:
    if "Properties" in ev:
        ev["Properties"] = {
            k: v for k, v in (ev["Properties"] or {}).items()
            if k in ("spark.jobGroup.id", "callSite.short")
        }
    infos = ev.get("Stage Infos", []) + ([ev["Stage Info"]] if "Stage Info" in ev else [])
    for info in infos:
        for key in ("RDD Info", "Accumulables", "Details", "Parent IDs"):
            info.pop(key, None)
    ev.pop("Task Info", None)
    if ev.get("Task Metrics"):
        ev["Task Metrics"] = {
            k: v for k, v in ev["Task Metrics"].items() if k in TASK_METRICS
        }
    ev.pop("Task Executor Metrics", None)
    return ev


def store_ops(bench: run.Run, sf_dir: str) -> list[workloads.Op]:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from distributed_system_spark.sources.store import DatasetStore

    store = object.__new__(workloads.StoreIngest)
    store.spark = bench.spark
    table = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    key = table["l_orderkey"].to_numpy() % 2
    store.slices = []
    for k in range(2):
        part = table.filter(key == k)
        path = os.path.join(bench.run_dir, f"slice-{k}.parquet")
        pq.write_table(part, path)
        store.slices.append((path, part.num_rows,
                             pc.sum(part["l_quantity"]).as_py(),
                             os.path.getsize(path)))
    store_root = os.path.join(bench.run_dir, "store")
    store.store = DatasetStore(bench.spark, "file:" + store_root)
    store.dataset_dir = os.path.join(store_root, store.DATASET)
    return [
        workloads.Op("put", "put", store._write(0, put=True)),
        workloads.Op("append", "append", store._write(1, put=False)),
        workloads.Op("get", "get", store._get),
    ]


def main(sf_dir: str) -> None:
    bench = run.Run(argparse.Namespace(trace=1, seed=0, seconds=0))
    bench.run_dir = tempfile.mkdtemp(prefix="perfbench-fixture-")
    os.rmdir(bench.run_dir)
    try:
        bench.prepare_env()
        sys.path.insert(0, run.ROOT)
        bench.launch()
        curation = object.__new__(workloads.Curation)
        curation.spark = bench.spark
        curation.sf_dir = sf_dir
        from distributed_system_spark.queries import load_all

        curation.registry = load_all()
        ops = [workloads.Op(n, "query", curation._timed(n)) for n in QUERIES]
        ops += store_ops(bench, sf_dir)
        for idx, op in enumerate(ops):
            rec = bench.run_op(op, 1, idx, timed=True)
            assert rec["ok"], rec.get("error")
        bench.stop()
        log_dir = os.path.join(bench.run_dir, "eventlog")
        dst = os.path.join(OUT, "eventlog", "eventlog_v2_local-fixture")
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(dst)
        with open(os.path.join(dst, "events_1_local-fixture"), "w",
                  encoding="utf-8") as fh:
            for ev in eventlog.read_events(eventlog.log_files(log_dir)):
                line = json.dumps(slim(ev), separators=(",", ":"))
                # Call sites name files by checkout-relative path.
                fh.write(line.replace(run.ROOT + os.sep, "") + "\n")
        with open(os.path.join(OUT, "records.json"), "w", encoding="utf-8") as fh:
            json.dump(bench.records, fh, indent=1)
    finally:
        bench.stop()
        shutil.rmtree(bench.run_dir, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1].strip())
    main(sys.argv[1])

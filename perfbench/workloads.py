"""The benchmark's workloads: what one pass runs and how its output is
checked.

Both workloads read the repository's test data (TESTDATA.md), copied
into ``data/`` by ``make_data.py``; the seed only orders each pass and
picks the store slices.  Each workload runs one untimed gate pass
(which also warms the JVM, codegen and Python workers), then yields
the ops of each timed pass.  An op is a closure that records its layer timings into
the dict it is given and raises when the program's output is wrong.
Byte counts that cost file-system walks are taken only when tracing,
and their time is recorded as ``trace_s``.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

Record = dict


@dataclass(frozen=True)
class Op:
    name: str
    kind: str
    fn: Callable[[Record], None]


class OutputMismatch(AssertionError):
    """The program returned a wrong result."""


def expect(ok: bool, why: str) -> None:
    if not ok:
        raise OutputMismatch(why)


def _now_ms() -> float:
    return time.time() * 1000


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def probe(rec: Record, fn: Callable[[], int]) -> int:
    """Run a tracing-only measurement, charging its time to
    ``rec["trace_s"]``."""
    t0 = time.perf_counter()
    value = fn()
    rec["trace_s"] = rec.get("trace_s", 0.0) + time.perf_counter() - t0
    return value


class Curation:
    """The document-curation family on the test data's sf0.01 documents:
    eager checkpoint builds and many short jobs dominate its walls.
    Three queries whose walls lie within 1.5x of each other at
    local[4], so a pass is short, a run fits several, and the median
    op falls inside one cluster of walls.  eval_set_builder
    (3.3-4.6 s) is left out: with it the median op sat on the edge
    between its walls and the others', and moved 30-50% between runs
    of the same code."""

    name = "curation"
    queries = (
        "dedup_minhash_ctrl",  # eager token-set checkpoints
        "contamination_fuzzy",  # eager builds inside construction
        "simhash_neardup",  # fingerprint self-join, few-task stages
    )
    sf_dir = os.path.join(DATA, "sf0.01")
    min_passes = 3
    # The first pass after the cold gate ran 5-60% slower than the next,
    # and in some runs the next was still 1.4x slower than later ones.
    warm_passes = 2

    def __init__(self, spark, run_dir: str, check) -> None:
        from distributed_system_spark.queries import load_all

        self.spark = spark
        self.check = check
        self.registry = load_all()

    def gate_ops(self) -> list[Op]:
        """Each query once, its full output compared with the
        registry's DuckDB oracle."""
        con = self.check.oracle_connection(self.sf_dir)

        def gate(name: str) -> Callable[[Record], None]:
            q = self.registry[name]

            def fn(rec: Record) -> None:
                got = q.fn(self.spark, self.sf_dir).toPandas()
                ok, why = self.check.compare(got, con.execute(q.oracle).df())
                expect(ok, f"{name}: {why}")

            return fn

        return [Op(n, "gate", gate(n)) for n in self.queries]

    def pass_ops(self, rng: random.Random) -> list[Op]:
        names = list(self.queries)
        rng.shuffle(names)
        return [Op(n, "query", self._timed(n)) for n in names]

    def _timed(self, name: str) -> Callable[[Record], None]:
        q = self.registry[name]

        def fn(rec: Record) -> None:
            t0 = time.perf_counter()
            df = q.fn(self.spark, self.sf_dir)
            rec["construct_s"] = time.perf_counter() - t0
            rec["construct_end_ms"] = _now_ms()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["execute_s"] = time.perf_counter() - t1

        return fn

    def after_window(self) -> list[Op]:
        return []

    def event_files(self) -> int:
        return 0


class StoreIngest:
    """SDFS-style writes beside reads on ``sources.store.DatasetStore``.

    The test data's sf0.1 lineitem is cut by ``l_orderkey % 32`` into
    slices of whole orders; ``data/`` keeps the first ``KEPT_SLICES``.
    One pass: ``put`` one slice, then ``APPENDS`` appends of further
    slices.  Each append is followed by a ``get`` + groupBy read and an
    ``ls_files``/``get_num_shards`` call, and every ``COMPACT_EVERY``
    appends by a ``compact``.  The seed picks the slices and their
    order.  Every read checks the row count and ``sum(l_quantity)`` of
    everything written so far.
    """

    name = "store_ingest"
    SLICES = 32
    KEPT_SLICES = 12
    APPENDS = 4
    COMPACT_EVERY = 2
    DATASET = "ingest/lineitem"
    min_passes = 3
    # The first pass after the gate ran ~1.5x slower than the next.
    warm_passes = 1

    def __init__(self, spark, run_dir: str, check) -> None:
        import pyarrow.compute as pc

        from distributed_system_spark.sources.store import DatasetStore

        self.spark = spark
        table = pq.read_table(os.path.join(DATA, "lineitem_sf0.1.parquet"))
        slice_dir = os.path.join(run_dir, "slices")
        os.makedirs(slice_dir)
        key = table["l_orderkey"].to_numpy() % self.SLICES
        self.slices = []
        for k in range(self.KEPT_SLICES):
            part = table.filter(key == k)
            path = os.path.join(slice_dir, f"slice-{k:02d}.parquet")
            pq.write_table(part, path)
            self.slices.append(
                (
                    path,
                    part.num_rows,
                    pc.sum(part["l_quantity"]).as_py(),
                    os.path.getsize(path),
                )
            )
        self.store_root = os.path.join(run_dir, "store")
        self.store = DatasetStore(spark, "file:" + self.store_root)
        self.dataset_dir = os.path.join(self.store_root, self.DATASET)
        self.expected = (0, 0.0, 0)  # rows, sum(l_quantity), pieces

    # -- ops -------------------------------------------------------------
    def gate_ops(self) -> list[Op]:
        """A shorter pass: every op kind runs and checks its output."""
        return self.pass_ops(random.Random(-1), appends=self.COMPACT_EVERY)

    def pass_ops(self, rng: random.Random, appends: int = APPENDS) -> list[Op]:
        picks = rng.sample(range(self.KEPT_SLICES), appends + 1)
        ops = [Op("put", "put", self._write(picks[0], put=True))]
        for i, k in enumerate(picks[1:], start=1):
            ops.append(Op("append", "append", self._write(k, put=False)))
            ops.append(Op("get", "get", self._get))
            ops.append(Op("ls", "ls", self._ls))
            if i % self.COMPACT_EVERY == 0:
                ops.append(Op("compact", "compact", self._compact))
        return ops

    def after_window(self) -> list[Op]:
        return [Op("final_check", "check", self._final_check),
                Op("delete", "check", self._delete)]

    def _write(self, k: int, put: bool) -> Callable[[Record], None]:
        path, rows, qty, size = self.slices[k]

        def fn(rec: Record) -> None:
            traced = rec["traced"]
            before = 0
            if traced and not put:
                before = probe(rec, lambda: dir_bytes(self.dataset_dir))
            t0 = time.perf_counter()
            df = self.spark.read.parquet(path)
            rec["construct_s"] = time.perf_counter() - t0
            rec["construct_end_ms"] = _now_ms()
            t1 = time.perf_counter()
            if put:
                self.store.put(df, self.DATASET, metadata={"slice": str(k)})
                self.expected = (rows, qty, 1)
            else:
                self.store.append(df, self.DATASET, metadata={"slice": str(k)})
                r, s, p = self.expected
                self.expected = (r + rows, s + qty, p + 1)
            rec["execute_s"] = time.perf_counter() - t1
            if traced:
                rec["bytes_written"] = (
                    probe(rec, lambda: dir_bytes(self.dataset_dir)) - before
                )
                rec["user_bytes"] = size

        return fn

    def _get(self, rec: Record) -> None:
        import pyspark.sql.functions as F

        if rec["traced"]:
            rec["files"] = probe(rec, lambda: sum(
                1 for f in os.listdir(self.dataset_dir) if f.startswith("part-")
            ))
        t0 = time.perf_counter()
        df = (
            self.store.get(self.DATASET)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        )
        rec["construct_s"] = time.perf_counter() - t0
        rec["construct_end_ms"] = _now_ms()
        t1 = time.perf_counter()
        rows = df.collect()
        rec["execute_s"] = time.perf_counter() - t1
        self._expect_totals(
            sum(r["n"] for r in rows), sum(r["qty"] for r in rows)
        )

    def _ls(self, rec: Record) -> None:
        parent, leaf = self.DATASET.rsplit("/", 1)
        expect(leaf in self.store.ls_files(parent), f"{leaf} not listed")
        shards = self.store.get_num_shards(self.DATASET)
        expect(
            shards == self.expected[2],
            f"get_num_shards {shards} != {self.expected[2]} pieces written",
        )

    def _compact(self, rec: Record) -> None:
        self.store.compact(self.DATASET)
        if rec["traced"]:
            rec["bytes_written"] = probe(rec, lambda: dir_bytes(self.dataset_dir))
        rows, qty, _ = self.expected
        self.expected = (rows, qty, 1)

    def _final_check(self, rec: Record) -> None:
        import pyspark.sql.functions as F

        row = self.store.get(self.DATASET).agg(
            F.count("*").alias("n"), F.sum("l_quantity").alias("qty")
        ).first()
        self._expect_totals(row["n"], row["qty"])
        self._ls(rec)

    def _delete(self, rec: Record) -> None:
        """Drop the dataset; whatever the store leaves behind outside
        its own op log is residue."""
        self.store.delete(self.DATASET)
        events = self.store.events_path().removeprefix("file:")
        residue = 0
        for base, _dirs, files in os.walk(self.store_root):
            if not base.startswith(events):
                residue += sum(
                    os.path.getsize(os.path.join(base, f)) for f in files
                )
        rec["residue_bytes"] = residue
        expect(residue == 0, f"{residue} bytes left after delete")

    def _expect_totals(self, n: int, qty: float) -> None:
        rows, want_qty, _ = self.expected
        expect(n == rows, f"read {n} rows, wrote {rows}")
        expect(qty == want_qty, f"read sum(l_quantity) {qty}, wrote {want_qty}")

    def event_files(self) -> int:
        events = self.store.events_path().removeprefix("file:")
        return len(os.listdir(events)) if os.path.isdir(events) else 0


WORKLOADS = {w.name: w for w in (Curation, StoreIngest)}

"""The engine's benchmark: named workloads, end-to-end metrics and a
traced per-layer breakdown.

Run from the repository root:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

One process launches one Spark session on ``local[$(nproc)]`` and
drives it as a single closed-loop client.  A run has three phases:

1. set-up (``setup_s``): launch the session, prepare the workload's
   inputs from ``perfbench/data``, then run one untimed gate pass that
   checks every op's output (each query against its DuckDB oracle,
   every store read against the totals written) and warms the JVM,
   codegen and the Python workers; then the workload's
   ``warm_passes`` untimed passes;
2. the timed window: whole passes over the workload's ops, each pass
   in a seeded order, until ``--seconds`` have passed and at least
   the workload's ``min_passes`` passes are done;
3. checks that run after the window (the store's final totals and
   its residue after delete).

Each op's wall is reported net of CPU steal: multiplied by the share
of the time this machine's CPUs were ready to run that the hypervisor
did not give to other guests during the op (``/proc/stat``).  On a
shared 4-core host a store_ingest run that lost 46% of that time read
a median op of 0.654 s raw and 0.363 s net, against 0.28-0.34 s for
runs that lost at most 2%; the raw walls stay in the detail file.  ``wall_s`` sums each op's fastest run over the timed
passes; ``op_p50_s`` and ``op_tail_s`` are taken over every timed op.

Every op runs under its own Spark job group; persisted RDDs are
dropped after each op.  A wrong output or an exception counts as a
failed op.  All temporary files (store slices and root, event log, Spark
local dirs) lives in ``.perfbench_run/<pid>`` and is deleted at exit.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` enables
Spark's event log and the store byte counts on every pass, reduces
the event log per op and prints the per-layer metrics.  Its
``trace.overhead`` is the timed passes' wall over that wall less the
time spent in the byte counts; the event log's own cost is not
measurable in-process and shows only against an untraced run's
``wall_s``.

Standard output ends with one summary line per workload, which also
gives the environment and the stolen share during the timed window,
and one JSON result line; per-op and per-layer detail goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_SAMPLES = 10  # samples a reported tail percentile must leave beyond it
TAIL_LADDER = (99, 95, 90, 75, 50)  # percent


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- statistics ----------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """The highest ladder percentile that leaves ``TAIL_SAMPLES``
    samples beyond it; the median when ``n`` is too small for any."""
    for pct in TAIL_LADDER:
        if n * (100 - pct) >= 100 * TAIL_SAMPLES:
            return pct / 100
    return 0.5


def best_pass_s(records: list[dict]) -> float:
    """One pass's wall, built from each op's fastest run: an op is
    keyed by its name and its occurrence within its pass, and the
    minimums of those keys across passes are summed.  Other guests on
    the host only ever slow an op down, so the minimum is the least
    disturbed estimate."""
    seen: dict[tuple, int] = defaultdict(int)
    slots: dict[tuple, list[float]] = defaultdict(list)
    for r in records:
        seen[r["pass"], r["op"]] += 1
        slots[r["op"], seen[r["pass"], r["op"]]].append(r["net_s"])
    return sum(min(v) for v in slots.values())


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the time this machine's CPUs were ready to run that
    the hypervisor gave to other guests instead: steal over busy plus
    steal.  Idle CPUs lose nothing, so this, not steal over all
    ticks, is how much longer CPU-bound work took."""
    delta = [b - a for a, b in zip(before, after)]
    busy = delta[0] + delta[1] + delta[2] + delta[5] + delta[6]
    return delta[7] / (busy + delta[7]) if busy + delta[7] else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# -- correctness ---------------------------------------------------------
class OracleCheck:
    """Compare Spark output with DuckDB oracles using the repository's
    own canonicalization (``tools/check.py``)."""

    def __init__(self) -> None:
        spec = importlib.util.spec_from_file_location(
            "graft_check", os.path.join(ROOT, "tools", "check.py")
        )
        self._mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._mod)

    def oracle_connection(self, sf_dir: str):
        import duckdb

        con = duckdb.connect()
        for name in sorted(os.listdir(sf_dir)):
            table = name.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{name}'"
            )
        return con

    def compare(self, got, want) -> tuple[bool, str]:
        return self._mod.values_equal(self._mod.canon(got), self._mod.canon(want))


# -- the run -------------------------------------------------------------
class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.phases: dict[str, float] = {}
        self.per_query: dict[str, float] = {}
        self.per_op_traces: dict[str, dict] = {}
        self.spark = None
        self.jvm_pid = None

    # environment and session ------------------------------------------
    def prepare_env(self) -> None:
        os.makedirs(self.run_dir)
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, sub))
        path = os.environ.get("PYTHONPATH")
        # Python workers import the engine too; give them the
        # checkout's path whatever the caller's cwd.
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        # Every JVM spark-submit starts (its launcher too) keeps its
        # temp files in the run dir and writes no perf-data file.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        )
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file:"
                    + os.path.join(self.run_dir, "eventlog"),
                }
            )
        args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    def launch(self) -> None:
        from distributed_system_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{nproc()}]")
        self.phases["session.launch_s"] = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def stop(self) -> None:
        if self.spark is None:
            return
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    # ops -------------------------------------------------------------
    def run_op(self, op, pass_no: int, idx: int, timed: bool) -> dict:
        group = f"p{pass_no}.{idx}.{op.name}"
        self.sc.setJobGroup(group, op.name)
        rec = {"op": op.name, "kind": op.kind, "pass": pass_no, "group": group,
               "timed": timed, "traced": self.trace,
               "start_ms": time.time() * 1000}
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        try:
            op.fn(rec)
            rec["ok"] = True
        except Exception as exc:  # a failed op is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["wall_s"] = time.perf_counter() - t0
        rec["net_s"] = rec["wall_s"] * (1 - stolen_share(ticks, cpu_ticks()))
        rec["end_ms"] = time.time() * 1000
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.records.append(rec)
        return rec

    def warm(self, workload, rng: random.Random) -> None:
        for pass_no in range(-workload.warm_passes, 0):
            for idx, op in enumerate(workload.pass_ops(rng)):
                self.run_op(op, pass_no, idx, timed=False)

    def window(self, workload, rng: random.Random) -> None:
        t_end = time.perf_counter() + self.args.seconds
        ticks = cpu_ticks()
        pass_no = 0
        while pass_no < workload.min_passes or time.perf_counter() < t_end:
            pass_no += 1
            ops = workload.pass_ops(rng)
            files0 = workload.event_files()
            t0 = time.perf_counter()
            for idx, op in enumerate(ops):
                self.run_op(op, pass_no, idx, timed=True)
            self.passes.append(
                {"pass": pass_no, "wall_s": time.perf_counter() - t0,
                 "ops": len(ops),
                 "event_files": workload.event_files() - files0}
            )
        self.stolen = stolen_share(ticks, cpu_ticks())

    def execute(self) -> dict:
        import workloads

        args = self.args
        t_setup = time.perf_counter()
        self.prepare_env()
        sys.path.insert(0, ROOT)
        self.launch()
        cls = workloads.WORKLOADS[args.workload]
        t0 = time.perf_counter()
        workload = cls(self.spark, self.run_dir, OracleCheck())
        self.phases["data_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for idx, op in enumerate(workload.gate_ops()):
            self.run_op(op, 0, idx, timed=False)
        rng = random.Random(args.seed)
        self.warm(workload, rng)
        self.phases["session.warm_s"] = time.perf_counter() - t0
        self.phases["setup_s"] = time.perf_counter() - t_setup
        self.min_passes = workload.min_passes
        self.window(workload, rng)
        for idx, op in enumerate(workload.after_window()):
            self.run_op(op, len(self.passes) + 1, idx, timed=False)
        self.peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)
        self.env = {
            "nproc": nproc(),
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "seed": args.seed,
            "spark": self.spark.version,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "stolen": round(self.stolen, 3),
        }
        layers = self.layer_metrics() if self.trace else {}
        return layers

    # metrics ----------------------------------------------------------
    def timed(self, kind: str | None = None) -> list[dict]:
        return [
            r for r in self.records
            if r["timed"] and (kind is None or r["kind"] == kind)
        ]

    def end_to_end(self) -> dict:
        walls = [r["net_s"] for r in self.timed()]
        # Fix the percentile by the guaranteed sample count, so it does
        # not change with how many passes fit in the window.
        q = tail_quantile(self.passes[0]["ops"] * self.min_passes)
        self.tail = {"q": q, "n": len(walls)}
        return {
            "setup_s": (self.phases["setup_s"], "s"),
            "wall_s": (best_pass_s(self.timed()), "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "op_tail_s": (percentile(walls, q), "s"),
        }

    def store_latencies(self) -> dict:
        return {
            f"store.{kind}_p50_s": (
                median_or_zero([r["net_s"] for r in self.timed(kind)]), "s")
            for kind in ("append", "get", "compact")
        }

    def layer_metrics(self) -> dict:
        import eventlog

        traces = eventlog.reduce_dir(os.path.join(self.run_dir, "eventlog"))
        recs = self.timed()
        cores = self.sc.defaultParallelism
        n_pass = len(self.passes)
        pass_wall = sum(p["wall_s"] for p in self.passes)
        probe_s = sum(r.get("trace_s", 0.0) for r in recs)

        def per_pass(total: float) -> float:
            return total / n_pass

        ops = [traces.get(r["group"], eventlog.OpTrace()) for r in recs]
        busy_ms = sum(t.busy_ms() for t in ops)
        task_run_ms = sum(t.task_run_ms for t in ops)
        stage_tasks = [n for t in ops for n in t.stage_tasks.values()]
        built = [r for r in recs if "construct_s" in r]
        appends = [
            (r, traces.get(r["group"], eventlog.OpTrace()))
            for r in recs if r["kind"] == "append"
        ]
        gets = [
            (r, traces.get(r["group"], eventlog.OpTrace()))
            for r in recs if r["kind"] == "get"
        ]
        user_bytes = sum(r.get("user_bytes", 0) for r in recs)
        written = sum(r.get("bytes_written", 0) for r in recs)
        residue = [r.get("residue_bytes", 0) for r in self.records if r["op"] == "delete"]
        m = {
            "session.launch_s": (self.phases["session.launch_s"], "s"),
            "session.warm_s": (self.phases["session.warm_s"], "s"),
            "queries.construct_s": (per_pass(sum(r["construct_s"] for r in built)), "s"),
            "queries.construct_jobs": (per_pass(sum(
                traces.get(r["group"], eventlog.OpTrace()).jobs_before(
                    r["construct_end_ms"]) for r in built)), "count"),
            "queries.execute_s": (per_pass(sum(r["execute_s"] for r in built)), "s"),
            "operators.checkpoint_jobs": (per_pass(sum(t.checkpoint_jobs for t in ops)), "count"),
            "operators.checkpoint_s": (per_pass(sum(
                t.busy_ms(checkpoint_only=True) for t in ops) / 1000), "s"),
            "concurrency.job_overlap": (
                sum(t.job_wall_ms() for t in ops) / busy_ms if busy_ms else 0.0, "ratio"),
            "spark.jobs": (per_pass(sum(len(t.jobs) for t in ops)), "count"),
            "spark.stages": (per_pass(sum(t.stages for t in ops)), "count"),
            "spark.stages_skipped": (per_pass(sum(t.stages_skipped for t in ops)), "count"),
            "spark.tasks": (per_pass(sum(t.tasks for t in ops)), "count"),
            "spark.tasks_per_stage_p50": (median_or_zero(stage_tasks), "count"),
            "spark.tasks_per_stage_max": (max(stage_tasks, default=0), "count"),
            "spark.core_util": (
                task_run_ms / (busy_ms * cores) if busy_ms else 0.0, "ratio"),
            "spark.task_run_s": (per_pass(task_run_ms / 1000), "s"),
            "spark.task_cpu_s": (per_pass(sum(t.task_cpu_ns for t in ops) / 1e9), "s"),
            "spark.gc_s": (per_pass(sum(t.gc_ms for t in ops) / 1000), "s"),
            "spark.shuffle_write_bytes": (per_pass(sum(t.shuffle_write_bytes for t in ops)), "bytes"),
            "spark.spill_bytes": (per_pass(sum(t.spill_bytes for t in ops)), "bytes"),
            "sources.input_bytes": (per_pass(sum(t.input_bytes for t in ops)), "bytes"),
            "store.write_job_s": (median_or_zero(
                [t.busy_ms(since_ms=r["construct_end_ms"]) / 1000
                 for r, t in appends]), "s"),
            "store.catalog_s": (median_or_zero(
                [r["execute_s"] - t.busy_ms(since_ms=r["construct_end_ms"]) / 1000
                 for r, t in appends]), "s"),
            "store.event_files": (per_pass(sum(p["event_files"] for p in self.passes)), "count"),
            "store.read_job_s": (median_or_zero(
                [t.busy_ms() / 1000 for _r, t in gets]), "s"),
            "store.files_per_read": (median_or_zero(
                [r["files"] for r, _t in gets]), "count"),
            "store.write_amp": (written / user_bytes if user_bytes else 0.0, "ratio"),
            "store.residue_bytes": (float(sum(residue)), "bytes"),
            **self.store_latencies(),
            "process.peak_rss_mb": (self.peak_rss_mb, "MB"),
            "trace.overhead": (pass_wall / (pass_wall - probe_s), "ratio"),
        }
        self.per_query = {
            f"query.{name}.wall_s": statistics.median(
                r["wall_s"] for r in recs if r["op"] == name)
            for name in sorted({r["op"] for r in recs if r["kind"] == "query"})
        }
        self.per_op_traces = {
            r["group"]: {
                "jobs": len(t.jobs), "stages": t.stages,
                "skipped": t.stages_skipped, "tasks": t.tasks,
                "task_run_s": t.task_run_ms / 1000,
                "busy_s": t.busy_ms() / 1000,
                "checkpoint_jobs": t.checkpoint_jobs,
            }
            for r, t in zip(recs, ops)
        }
        return m


def result(records: list[dict], metrics: dict) -> dict:
    """The result line: every op attempted (gate, timed and after the
    window) counts, and one wrong output makes the run incorrect."""
    failed = sum(1 for r in records if not r["ok"])
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def short_number(v: float) -> float | int:
    """Five significant digits, far below any layer's noise: they keep
    the 33 per-layer values, and stdout, under 1900 characters."""
    v = float(f"{v:.5g}")
    return int(v) if v.is_integer() else v


def summary_line(workload: str, metrics: dict, extra: dict) -> str:
    parts = [f"{k}={v:.4g}{u}" for k, (v, u) in metrics.items()]
    parts += [f"{k}={v}" for k, v in extra.items()]
    return f"[{workload}] " + " ".join(parts)


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args)
    try:
        layers = run.execute()
        e2e = run.end_to_end()
    finally:
        run.stop()
        shutil.rmtree(run.run_dir, ignore_errors=True)
        parent = os.path.dirname(run.run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    metrics = (
        {k: (short_number(v), u) for k, (v, u) in layers.items()}
        if args.trace else e2e
    )
    res = result(run.records, metrics)
    extra = {
        "tail": f"p{run.tail['q'] * 100:g}/n={run.tail['n']}",
        "passes": len(run.passes),
    }
    if not args.trace:  # in a traced run these are per-layer metrics
        extra["rss"] = f"{run.peak_rss_mb:.0f}MB"
        if args.workload == "store_ingest":
            extra["append/get/compact_p50"] = "/".join(
                f"{v:.3f}" for v, _u in run.store_latencies().values()
            ) + "s"
    extra.update(run.env)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": run.env, "phases": run.phases, "tail": run.tail,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "layers": {k: v for k, (v, _u) in layers.items()},
        "per_query": run.per_query,
        "per_op_traces": run.per_op_traces,
        "passes": run.passes, "ops": run.records,
    }
    with open(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1)

    print(summary_line(args.workload, e2e, extra))
    print(json.dumps(res, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "distributed_system_spark")):
        print("perfbench: engine package distributed_system_spark not found "
              f"under {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, HERE)
    sys.exit(main())

"""A11 failure recovery: the reference kills a worker mid-job and
still requires golden-equal output (tests/maplejuice.cpp:299-303,
372-376 — drop_maple/drop_juice). Spark's lineage-based task retry is
the platform analog; this injects a first-attempt task failure and
asserts the job completes with exactly the right rows.

Runs in a subprocess because retries need a `local[N,maxFailures]`
master, and the pytest session already owns the JVM's only
SparkContext.
"""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = r"""
import os, sys
from pyspark.sql import SparkSession

flag_dir = sys.argv[1]
spark = (
    SparkSession.builder.master("local[2,2]")  # 2 threads, 2 attempts/task
    .appName("retry-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
sc = spark.sparkContext

def fail_first_attempt(it):
    # one sentinel per partition-attempt: the first attempt of each
    # partition dies after materializing its rows (the reference kills
    # the worker AFTER it started processing, 5s into the job)
    from pyspark import TaskContext

    ctx = TaskContext.get()
    rows = list(it)
    flag = os.path.join(flag_dir, f"p{ctx.partitionId()}")
    if not os.path.exists(flag):
        open(flag, "w").close()
        raise RuntimeError("injected worker failure")
    return rows

rdd = sc.parallelize(range(1000), 4).mapPartitions(fail_first_attempt)
got = sorted(rdd.collect())
assert got == list(range(1000)), f"lost/duplicated rows: {len(got)}"
# every partition must have actually failed once (4 sentinel files)
assert len(os.listdir(flag_dir)) == 4
print("RECOVERED")
"""


def test_task_retry_recovers_with_exact_output(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RECOVERED" in out.stdout, out.stdout + out.stderr

"""concurrency.eager_all: the driver-side overlap helper for
independent eager builds (guide §2.6).  Its contract: results come
back in thunk order, the first failure propagates like the
sequential form, and concurrently-built localCheckpoints hold
exactly the rows their sequential twins would."""

import pytest

from distributed_system_spark.concurrency import eager_all


def test_eager_all_preserves_order(spark):
    out = eager_all(spark, lambda: "a", lambda: "b", lambda: "c")
    assert out == ["a", "b", "c"]


def test_eager_all_single_thunk_runs_inline(spark):
    assert eager_all(spark, lambda: 41 + 1) == [42]


def test_eager_all_propagates_failure(spark):
    def boom():
        raise ValueError("build failed")

    with pytest.raises(ValueError, match="build failed"):
        eager_all(spark, lambda: 1, boom)


def test_eager_all_checkpoints_match_sequential(spark):
    df = spark.range(100).selectExpr(
        "id", "id * 2 AS dbl", "md5(cast(id as string)) AS h"
    )
    a_lazy = df.selectExpr("id", "dbl")
    b_lazy = df.selectExpr("id", "h").where("id % 3 = 0")
    seq = [a_lazy.localCheckpoint(), b_lazy.localCheckpoint()]
    par = eager_all(spark, a_lazy.localCheckpoint, b_lazy.localCheckpoint)
    for s, p in zip(seq, par):
        assert sorted(map(tuple, s.collect())) == sorted(
            map(tuple, p.collect())
        )


def test_incremental_queries_build_without_pinned_threads(
    spark, sf_dir, monkeypatch
):
    """Under PYSPARK_PIN_THREAD=false, pyspark.inheritable_thread_target
    returns its argument unchanged — called on the session, the
    session itself, which is not callable on a function.  The three
    queries that overlap independent batch jobs submit them through
    eager_all, which handles that mode; this patches in the
    non-pinned behaviour and builds each one at sf0.001."""
    import pyspark

    from distributed_system_spark.queries import load_all

    monkeypatch.setattr(
        pyspark, "inheritable_thread_target", lambda f=None: f
    )
    reg = load_all()
    for name in (
        "ann_index_upsert",
        "contamination_incr",
        "dedup_substring_chains_incr",
    ):
        assert reg[name].fn(spark, sf_dir).count() > 0, name

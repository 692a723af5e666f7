"""Streaming semantics: the same window/dedup definitions produce
identical results through a real readStream (available-now trigger)
and the batch DataFrame — plus the A20 config watcher."""

from __future__ import annotations

import time

import pyspark.sql.functions as F
import pytest

from distributed_system_spark.scratch import keyed_dir
from distributed_system_spark.sources.tables import load_table
from distributed_system_spark.streaming import (
    ConfigWatcher,
    dedup_stream,
    events_stream,
    run_available_now,
    session_counts,
    tumbling_counts,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = tumbling_counts(events_stream(spark, sf_dir))
    got = run_available_now(stream, "t_tumbling", output_mode="complete")
    want = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_stream_session_equals_batch(spark, sf_dir):
    stream = session_counts(events_stream(spark, sf_dir))
    got = run_available_now(stream, "t_session", output_mode="complete")
    want = session_counts(load_table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_session_oracle_stable_under_timestamp_ties(spark, tmp_path):
    """Regression for the tie-unstable win_session oracle: with exact
    duplicate timestamps (absent in the shipped test data, real at
    scale) an ORDER BY t alone under-specifies the oracle's two window
    sorts, and DuckDB may enumerate a tied peer group differently in
    the lag window than in the cumsum window — splitting tied events
    across two sessions.  Spark's session_window is value-based and
    immune.  This corpus is built entirely of tied groups and also
    pins the EXACT-GAP edge: Spark merges sessions that touch at the
    boundary (an event at last_t + gap extends the session), so the
    oracle's island rule must be strictly `>` — the original `>=`
    oracle splits the tied group sitting on the edge.  The registry
    oracle (event_id tiebreak + strict gap) must match Spark
    exactly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_system_spark.queries import load_all

    base_us = 1_700_000_000_000_000
    gap_us = 600_000_000  # session_counts' 10-minute gap

    specs = []  # (event_id, t_us, user_id)
    eid = 0
    # user 1: a 20-way tie, then a 5-way tie inside the same session,
    # then a 6-way tie EXACTLY at the gap edge (touching -> merges),
    # then a 3-way tie one microsecond past the gap -> new session
    for _ in range(20):
        specs.append((eid := eid + 1, base_us, 1))
    for _ in range(5):
        specs.append((eid := eid + 1, base_us + 60_000_000, 1))
    t_edge = base_us + 60_000_000 + gap_us
    for _ in range(6):
        specs.append((eid := eid + 1, t_edge, 1))
    for _ in range(3):
        specs.append((eid := eid + 1, t_edge + gap_us + 1, 1))
    # user 2: two tied pairs one microsecond under the gap (one session)
    for t in (base_us, base_us + gap_us - 1):
        for _ in range(2):
            specs.append((eid := eid + 1, t, 2))

    tbl = pa.table(
        {
            "event_id": pa.array([e for e, _, _ in specs], pa.int64()),
            "ts": pa.array(
                [t for _, t, _ in specs], type=pa.timestamp("us")
            ),
            "user_id": pa.array([u for _, _, u in specs], pa.int64()),
            "event_type": ["view"] * len(specs),
            "value": [1.0] * len(specs),
            "props": ["{}"] * len(specs),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(tbl, path)

    got = _rows(
        session_counts(
            spark.read.parquet(path).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
        )
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    oracle = load_all()["win_session"].oracle
    want = sorted(
        (r[0], r[1], r[2], r[3]) for r in con.execute(oracle).fetchall()
    )
    assert got == want
    # sanity: the tie-heavy corpus produced the intended session shape
    # (31 = 20+5+6: the edge group MERGED; the +1us group split off)
    assert [r[3] for r in got if r[0] == 1] == [31, 3]
    assert [r[3] for r in got if r[0] == 2] == [4]


def test_stream_dedup_drops_replays(spark, sf_dir):
    stream = dedup_stream(events_stream(spark, sf_dir)).select("event_id")
    got = run_available_now(stream, "t_dedup", output_mode="append")
    batch = load_table(spark, sf_dir, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_stateful_totals_carry_state_across_batches(spark, sf_dir):
    """applyInPandasWithState: the final per-user snapshot after a
    3-microbatch replay equals the batch GROUP BY, and the sink holds
    more update rows than users — proof that state actually carried
    across batches (users re-emitted with growing counts) rather than
    the stream collapsing into one batch."""
    from distributed_system_spark.streaming.streams import (
        running_totals_stateful,
    )

    got = running_totals_stateful(spark, sf_dir, sink_name="t_stateful")
    ev = load_table(spark, sf_dir, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
    )
    assert _rows(got) == _rows(want)
    sink_rows = spark.table("t_stateful").count()
    assert sink_rows > got.count(), (sink_rows, got.count())


def test_pieces_sink_appends_batches_exactly_once(spark, sf_dir, tmp_path):
    """A15/A5 streaming analog: every microbatch lands as an appended
    piece; re-running against the same checkpoint replays nothing (the
    batch-id ledger is the committed-pairs set of mj_master.hpp:74-76)."""
    from distributed_system_spark.streaming.streams import (
        EVENTS_SCHEMA,
        _multibatch_stage_dir,
        pieces_sink,
    )

    stage = _multibatch_stage_dir(spark, sf_dir)
    out = str(tmp_path / "pieces")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        pieces_sink(stream.select("event_id", "user_id"), out, ckpt)

    drain()
    want = load_table(spark, sf_dir, "events").count()
    assert spark.read.parquet(out).count() == want
    drain()  # restart with same checkpoint: nothing new to commit
    assert spark.read.parquet(out).count() == want
    assert (
        spark.read.parquet(out).select("event_id").distinct().count() == want
    )
    # Mid-batch crash window (ADVICE r4): data written but checkpoint
    # commit lost.  Simulate by deleting the last commit marker and
    # re-draining — the replayed batch must overwrite its own piece,
    # not append a duplicate.
    import os

    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # stale Hadoop checksum blocks the rewrite
        os.remove(crc)
    drain()
    assert spark.read.parquet(out).count() == want


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream self-join (time-ordered 3-batch replay) must
    equal the batch join — watermark state eviction may not lose
    in-gap matches."""
    from distributed_system_spark.queries.streaming_q import (
        stream_join_attribution,
    )
    from distributed_system_spark.streaming.streams import (
        view_click_attribution,
    )

    got = stream_join_attribution(spark, sf_dir)
    want = view_click_attribution(load_table(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_config_watcher_fires_on_change(tmp_path):
    w = ConfigWatcher(str(tmp_path / "conf"), poll_interval=0.05)
    seen: list[tuple[str, str | None]] = []
    w.set_value("threshold", "10")
    w.watch_value("threshold", lambda k, v: seen.append((k, v)))
    w.start()
    try:
        w.set_value("threshold", "20")
        deadline = time.time() + 3
        while not seen and time.time() < deadline:
            time.sleep(0.05)
    finally:
        w.stop()
    assert seen == [("threshold", "20")]
    assert w.get_value("threshold") == "20"


def test_config_watcher_value_cap(tmp_path):
    import pytest

    w = ConfigWatcher(str(tmp_path / "conf2"))
    with pytest.raises(ValueError):
        w.set_value("big", "x" * 9000)  # 8192-byte cap, shared_configuration.h:9


def test_config_watcher_no_spurious_fires(tmp_path):
    """Re-writing the same value must not fire (the reference dedups
    change notifications, tests/shared_configuration.cpp:52-96)."""
    w = ConfigWatcher(str(tmp_path / "conf3"), poll_interval=0.05)
    seen: list[str | None] = []
    w.set_value("k", "same")
    w.watch_value("k", lambda k, v: seen.append(v))
    w.start()
    try:
        w.set_value("k", "same")
        time.sleep(0.3)
    finally:
        w.stop()
    assert seen == []


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data drop (C9): after the watermark advances past an
    event-time window, rows arriving for it are discarded from the
    append-mode windowed aggregate — the batch run of the same
    definition keeps them, and the difference is exactly the late
    rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from distributed_system_spark.sources.tables import canonical_event_time
    from distributed_system_spark.streaming.streams import EVENTS_SCHEMA

    base_us = 1_700_000_000_000_000  # an hour-aligned-ish anchor

    def rows(*ts_offsets_min):
        n = len(ts_offsets_min)
        return pa.table(
            {
                "event_id": pa.array(list(range(n)), type=pa.int64()),
                "ts": pa.array(
                    [base_us + m * 60_000_000 for m in ts_offsets_min],
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * n, type=pa.int64()),
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        )

    stage = str(tmp_path / "late-stage")
    os.makedirs(stage)
    # batch 0: minutes 0..120 — sets max event time to 120min
    pq.write_table(rows(0, 20, 50, 70, 110, 120),
                   f"{stage}/slice-000.parquet")
    # batch 1: on-time row; the watermark computed from batch 0
    # (120 - 30 = 90min) takes effect from this batch on
    pq.write_table(rows(125), f"{stage}/slice-500.parquet")
    # batch 2: minute 15 — 75min older than the watermark → dropped
    pq.write_table(rows(15), f"{stage}/slice-999.parquet")
    os.utime(f"{stage}/slice-000.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(f"{stage}/slice-500.parquet", (1_700_004_000, 1_700_004_000))
    os.utime(f"{stage}/slice-999.parquet", (1_700_009_000, 1_700_009_000))

    def windowed(df):
        src = canonical_event_time(df)
        if src.isStreaming:
            src = src.withWatermark("ts", "30 minutes")
        return src.groupBy(F.window("ts", "1 hour").alias("w")).agg(
            F.count(F.lit(1)).alias("cnt")
        )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        windowed(stream)
        .writeStream.format("memory")
        .queryName("late_drop_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["w"]["start"]: r["cnt"]
        for r in spark.table("late_drop_sink").collect()
    }
    batch = {
        r["w"]["start"]: r["cnt"]
        for r in windowed(spark.read.schema(EVENTS_SCHEMA).parquet(stage))
        .collect()
    }
    # the first window closed and emitted WITHOUT the late minute-15
    # row; the batch run of the same definition includes it (windows
    # still open when the stream drained are absent from the append
    # sink — that is append-mode semantics, not data loss)
    first_window = min(batch)
    assert batch[first_window] == streamed[first_window] + 1, (
        batch,
        streamed,
    )


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event ids are removed
    while their dedup state lives inside the watermark horizon, and
    the state is evictable (unlike plain dropDuplicates, whose state
    grows forever on an unbounded stream)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_system_spark.sources.tables import canonical_event_time
    from distributed_system_spark.streaming.streams import EVENTS_SCHEMA

    base_us = 1_700_000_000_000_000

    def rows(ids_and_mins):
        n = len(ids_and_mins)
        return pa.table(
            {
                "event_id": pa.array(
                    [i for i, _ in ids_and_mins], type=pa.int64()
                ),
                "ts": pa.array(
                    [base_us + m * 60_000_000 for _, m in ids_and_mins],
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * n, type=pa.int64()),
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        )

    stage = str(tmp_path / "dedup-stage")
    os.makedirs(stage)
    # batch 0: ids 1,2,3; batch 1 replays id 2 (inside the horizon)
    # and adds id 4
    pq.write_table(
        rows([(1, 0), (2, 5), (3, 10)]),
        f"{stage}/s0.parquet",
    )
    pq.write_table(rows([(2, 12), (4, 15)]), f"{stage}/s1.parquet")
    os.utime(f"{stage}/s0.parquet", (1_700_000_000,) * 2)
    os.utime(f"{stage}/s1.parquet", (1_700_000_500,) * 2)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    deduped = (
        canonical_event_time(stream)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddww_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["event_id"] for r in spark.table("ddww_sink").collect()
    )
    assert got == [1, 2, 3, 4], got  # the replayed id 2 appears once


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Stream-stream LEFT OUTER join (C9): matched pairs emit eagerly;
    an unmatched view emits with null click columns once the watermark
    passes the end of its match window (state provably complete →
    evictable); views whose window is still open when the stream
    drains are withheld — the batch face emits those too, and the
    difference must be exactly those tail views."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_system_spark.sources.tables import canonical_event_time
    from distributed_system_spark.streaming.streams import (
        EVENTS_SCHEMA,
        run_available_now,
        view_click_attribution,
    )

    base_us = 1_700_000_000_000_000

    def rows(specs):  # (event_id, minute, user, type)
        n = len(specs)
        return pa.table(
            {
                "event_id": pa.array([e for e, _, _, _ in specs], pa.int64()),
                "ts": pa.array(
                    [base_us + m * 60_000_000 for _, m, _, _ in specs],
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array([u for _, _, u, _ in specs], pa.int64()),
                "event_type": [t for _, _, _, t in specs],
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        )

    stage = str(tmp_path / "louter-stage")
    os.makedirs(stage)
    # b0: u1 view+click (match), u2 view (never clicked)
    pq.write_table(
        rows([(1, 0, 1, "view"), (2, 10, 1, "click"), (3, 5, 2, "view")]),
        f"{stage}/s0.parquet",
    )
    # b1: sentinel advances event time to 120min -> watermark 110min
    pq.write_table(rows([(4, 120, 9, "view")]), f"{stage}/s1.parquet")
    # b2: watermark 110 > u2's window end (35min) -> u2 emits null-click
    pq.write_table(rows([(5, 125, 9, "view")]), f"{stage}/s2.parquet")
    for i, t in enumerate([1_700_000_000, 1_700_000_500, 1_700_001_000]):
        os.utime(f"{stage}/s{i}.parquet", (t, t))

    stream = canonical_event_time(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    joined = view_click_attribution(
        stream, watermark="10 minutes", how="left_outer"
    )
    got = {
        (r["user_id"], r["view_id"], r["click_id"], r["gap_us"])
        for r in run_available_now(
            joined, "louter_sink", output_mode="append"
        ).collect()
    }
    assert got == {
        (1, 1, 2, 600_000_000),  # eager inner match
        (2, 3, None, None),      # unmatched, window closed by watermark
    }, got

    # batch face: same definition emits the withheld tail views too
    batch = canonical_event_time(
        spark.read.schema(EVENTS_SCHEMA).parquet(stage)
    )
    bgot = {
        (r["user_id"], r["view_id"], r["click_id"], r["gap_us"])
        for r in view_click_attribution(
            batch, watermark="10 minutes", how="left_outer"
        ).collect()
    }
    assert bgot - got == {(9, 4, None, None), (9, 5, None, None)}
    assert got <= bgot


def test_stateful_sessionizer_timeout_evicts_and_emits(spark, sf_dir):
    """applyInPandasWithState + EventTimeTimeout (C9): sessions close
    via in-data gaps OR via watermark-driven state timeout; every
    emitted session must exactly match a batch session, and the only
    batch sessions missing from the stream are each user's final one
    when the watermark never passed its close edge — i.e. state was
    evicted everywhere else."""
    from distributed_system_spark.queries.behavior import sessionize_events
    from distributed_system_spark.streaming.streams import (
        sessionize_stateful,
    )

    wm_us = 30 * 60_000_000
    gap_us = 30 * 60_000_000  # behavior.py _GAP_US, the batch face's gap

    got = {
        (r["user_id"], r["n_events"], r["start_us"], r["end_us"])
        for r in sessionize_stateful(spark, sf_dir).collect()
    }
    batch_rows = sessionize_events(spark, sf_dir).collect()
    batch = {
        (r["user_id"], r["n_events"], r["start_us"], r["end_us"])
        for r in batch_rows
    }
    assert got <= batch, got - batch
    # withheld = sessions whose close edge the final watermark never
    # passed: the session must be its user's last AND end within
    # (watermark + gap) of the stream's max event time
    max_ts = max(r["end_us"] for r in batch_rows)
    last_end = {}
    for r in batch_rows:
        last_end[r["user_id"]] = max(
            last_end.get(r["user_id"], 0), r["end_us"]
        )
    withheld = batch - got
    for u, n, s, e in withheld:
        assert e == last_end[u], (u, n, s, e)
        assert e + gap_us > max_ts - wm_us, (u, e, max_ts)
    # the timeout path did real work: most sessions emitted
    assert len(got) > 0.8 * len(batch), (len(got), len(batch))


def test_cdc_apply_stream_converges_to_batch_compaction(
    spark, sf_dir, tmp_path
):
    """foreachBatch MERGE into the DatasetStore: after a 3-batch
    time-ordered replay the stored materialized view must equal the
    batch keep-latest compaction exactly, and re-applying a batch
    (replay after restart) must leave it unchanged (idempotent
    overwrite = the A5 exactly-once story)."""
    from distributed_system_spark.queries.behavior import (
        cdc_latest_per_key,
    )
    from distributed_system_spark.sources.store import DatasetStore
    from distributed_system_spark.streaming.streams import cdc_apply_stream

    store = DatasetStore(spark, str(tmp_path / "mv-store"))
    got_df = cdc_apply_stream(spark, sf_dir, store)
    want = sorted(map(tuple, cdc_latest_per_key(spark, sf_dir).collect()))
    got = sorted(map(tuple, got_df.collect()))
    assert got == want
    # replay the final microbatch's merge: a no-op by construction
    before = got
    got2 = sorted(map(tuple, cdc_apply_stream(spark, sf_dir, store).collect()))
    assert got2 == before


def test_stateful_state_survives_restart_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """State recovery across a query RESTART (A5/A11 streaming face):
    run a per-user stateful count over part of the corpus, stop, add
    the remaining files, restart from the same checkpoint — the final
    per-user counts must equal the batch GROUP BY over everything,
    which is only possible if the second run restored the first run's
    state store instead of recounting from zero (it never re-reads the
    already-committed files)."""
    import os
    import shutil

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from distributed_system_spark.streaming.streams import (
        EVENTS_SCHEMA,
        _multibatch_stage_dir,
    )

    staged = _multibatch_stage_dir(spark, sf_dir)
    parts = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    assert len(parts) >= 3
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "updates")

    def counts(key, pdfs, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += int(len(pdf))
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def drain():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )
        updates = stream.groupBy("user_id").applyInPandasWithState(
            counts,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink(df, batch_id):
            df.write.mode("append").parquet(out)

        q = (
            updates.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: two of the files
    for f in parts[:2]:
        shutil.copy(os.path.join(staged, f), os.path.join(watch, f))
    drain()
    # run 2 (restart): the rest arrive; same checkpoint
    for f in parts[2:]:
        shutil.copy(os.path.join(staged, f), os.path.join(watch, f))
    drain()

    final = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert _rows(final) == _rows(want)


def test_signature_index_stream_incremental_and_idempotent(spark, sf_dir):
    """Streaming fuzzy dedup against the persisted signature index:
    (1) the drained output equals the batch keep-first rule, (2) a
    re-run against the same checkpoint replays nothing (output
    unchanged — exactly-once), (3) the index holds one piece per
    microbatch with ALL processed doc ids (kept and dropped), which
    is what makes per-batch decisions equal the batch pair rule."""
    import os

    from distributed_system_spark.operators.dedup import (
        doc_tokens,
        jaccard_verify,
        lsh_band_signatures,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from distributed_system_spark.streaming.streams import (
        signature_index_stream,
    )

    got1 = {
        (r.doc_id, r.n_chars)
        for r in signature_index_stream(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    toks = doc_tokens(docs)
    cand = lsh_candidate_pairs(
        lsh_band_signatures(minhash_signatures(toks, 8), 2)
    )
    dup_ids = {
        r.id_b for r in jaccard_verify(cand, toks, 0.8).collect()
    }
    want = {
        (r.doc_id, r.n_chars)
        for r in docs.filter(~F.col("doc_id").isin(dup_ids)).collect()
    }
    assert got1 == want
    got2 = {
        (r.doc_id, r.n_chars)
        for r in signature_index_stream(spark, sf_dir).collect()
    }
    assert got2 == got1
    root = keyed_dir("sigidx", f"{sf_dir}/documents.parquet")
    pieces = [
        d
        for d in os.listdir(os.path.join(root, "index_bands"))
        if d.startswith("piece=")
    ]
    assert len(pieces) == 3
    idx_ids = {
        r.id
        for r in spark.read.schema("id BIGINT, band INT, sig STRING")
        .parquet(os.path.join(root, "index_bands"))
        .select("id")
        .distinct()
        .collect()
    }
    assert idx_ids == {r.doc_id for r in docs.select("doc_id").collect()}
    # Mid-batch crash replay: index piece written but checkpoint commit
    # lost.  The replayed batch then sees ITS OWN signatures already in
    # the index — the decision must be unchanged (self-pairs are
    # filtered by id_a < id_b and the union dedups), and the piece is
    # overwritten, not duplicated.
    commits = sorted(
        c
        for c in os.listdir(os.path.join(root, "ckpt", "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(root, "ckpt", "commits", commits[-1]))
    crc = os.path.join(root, "ckpt", "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got3 = {
        (r.doc_id, r.n_chars)
        for r in signature_index_stream(spark, sf_dir).collect()
    }
    assert got3 == want


def test_phash_index_stream_incremental_and_idempotent(spark, sf_dir):
    """Streaming image dedup against the persisted aHash signature
    index: (1) the drained output equals the batch keep-first rule
    under hamming<=2, (2) a re-run against the same checkpoint
    replays nothing (exactly-once), (3) the index holds one 8-byte-
    sig piece per microbatch covering ALL processed images (kept and
    dropped) — the property that makes per-batch probes equal the
    batch pair rule, with history's image bytes never re-decoded."""
    import os

    from distributed_system_spark.operators.multimodal import (
        image_ahash,
        ppm_payloads,
    )
    from distributed_system_spark.streaming.streams import (
        phash_signature_index_stream,
    )

    got1 = {
        (r.doc_id, r.sig)
        for r in phash_signature_index_stream(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 24
    )
    sigs = image_ahash(ppm_payloads(docs), bits=32)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    dropped = {
        r.id_b
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 2)
        .select("id_b")
        .distinct()
        .collect()
    }
    want = {
        (r.doc_id, r.sig)
        for r in sigs.filter(~F.col("doc_id").isin(dropped)).collect()
    }
    assert got1 == want
    got2 = {
        (r.doc_id, r.sig)
        for r in phash_signature_index_stream(spark, sf_dir).collect()
    }
    assert got2 == got1
    root = keyed_dir("phashidx", f"{sf_dir}/documents.parquet")
    pieces = [
        d
        for d in os.listdir(os.path.join(root, "index_sigs"))
        if d.startswith("piece=")
    ]
    assert len(pieces) == 3
    idx_ids = {
        r.doc_id
        for r in spark.read.schema("doc_id BIGINT, sig BIGINT")
        .parquet(os.path.join(root, "index_sigs"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert idx_ids == {r.doc_id for r in docs.select("doc_id").collect()}


def test_transform_with_state_totals(spark, sf_dir):
    """Spark 4 transformWithStateInPandas equivalence: the final
    per-user snapshot must equal the batch GROUP BY.  Skips when the
    protobuf dep (Spark's Python state-server protocol) is absent;
    the gate itself must then raise a clear NotImplementedError."""
    import pytest

    from distributed_system_spark.streaming.streams import user_totals_tws

    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            user_totals_tws(spark, sf_dir)
        pytest.skip("protobuf absent: transformWithState runner unavailable")
    got = user_totals_tws(spark, sf_dir, sink_name="t_tws")
    ev = load_table(spark, sf_dir, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("total_value"),
    )
    assert _rows(got) == _rows(want)


def test_totals_processor_logic_via_fake_handle(spark, sf_dir):
    """Drive the transformWithState ``Totals`` processor's
    handleInputRows DIRECTLY through a fake ValueState handle — the
    class is pure pandas logic, so its accumulate/emit behavior is
    testable even where the JVM state-server runner (protobuf) cannot
    start.  Checks: state carries across calls, totals are exact
    integer ten-thousandths (batch-split invariant), and the final
    snapshot equals the batch GROUP BY on real events data."""
    import pandas as pd

    from distributed_system_spark.streaming.streams import (
        make_totals_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .toPandas()
    )
    want = {
        (int(uid), len(g), round(float(g["value"].sum()), 2))
        for uid, g in ev.groupby("user_id")
    }

    def final_snapshot(batch_splits: int) -> set:
        out = {}
        for uid, g in ev.groupby("user_id"):
            proc = make_totals_processor()()
            proc.init(FakeHandle())
            # split this user's rows into several "microbatches", each
            # delivered as its own handleInputRows call (rows arg is
            # itself an iterator of pandas chunks — exercise both).
            chunks = [
                c
                for c in (
                    g.iloc[i :: batch_splits]
                    for i in range(batch_splits)
                )
                if len(c)
            ]
            for chunk in chunks:
                half = len(chunk) // 2
                rows = iter([chunk.iloc[:half], chunk.iloc[half:]])
                emitted = list(
                    proc.handleInputRows((uid,), rows, None)
                )
                assert len(emitted) == 1
            last = emitted[0].iloc[0]
            out[int(uid)] = (
                int(last["n_events"]),
                float(last["total_value"]),
            )
            proc.close()
        return {(u, n, t) for u, (n, t) in out.items()}

    # Two different batch schedules must land on the identical exact
    # snapshot (integer ten-thousandths make the sum order-free).
    assert final_snapshot(1) == want
    assert final_snapshot(3) == want


def test_drift_monitor_stream_matches_batch_and_reruns(spark, sf_dir):
    """The streaming PSI monitor's merged per-batch counters must
    equal the batch drift_psi exactly (counter mergeability), and a
    re-run over the same checkpoint must be a no-op (exactly-once:
    replayed batch_ids skipped, pieces rewritten deterministically)."""
    from distributed_system_spark.queries.drift_q import drift_psi
    from distributed_system_spark.streaming.streams import (
        drift_monitor_stream,
    )

    want = _rows(drift_psi(spark, sf_dir))
    got1 = _rows(drift_monitor_stream(spark, sf_dir))
    got2 = _rows(drift_monitor_stream(spark, sf_dir))
    assert got1 == want
    assert got2 == want


def test_cusum_monitor_stream_matches_batch_and_reruns(spark, sf_dir):
    """The streaming CUSUM monitor's merged day counters must equal
    the batch ts_changepoint_cusum exactly, and a checkpointed
    re-run must be a no-op."""
    from distributed_system_spark.queries.timeseries import (
        ts_changepoint_cusum,
    )
    from distributed_system_spark.streaming.streams import (
        cusum_monitor_stream,
    )

    want = _rows(ts_changepoint_cusum(spark, sf_dir))
    assert _rows(cusum_monitor_stream(spark, sf_dir)) == want
    assert _rows(cusum_monitor_stream(spark, sf_dir)) == want


def test_cms_monitor_stream_matches_batch_and_reruns(spark, sf_dir):
    """The streaming count-min monitor's merged grid must equal the
    batch sketch exactly (counter mergeability), and a re-run over
    the same checkpoint must be a no-op (exactly-once: replayed
    batch_ids skipped, pieces rewritten deterministically)."""
    from distributed_system_spark.queries import load_all
    from distributed_system_spark.streaming.streams import (
        cms_monitor_stream,
    )

    batch = load_all()["freq_count_min_estimate"].fn(spark, sf_dir)
    watch = {"the", "a", "of", "and", "to", "is", "in"}
    want = {
        (r["tok"], r["exact_cnt"], r["cms_est"])
        for r in batch.collect()
        if r["tok"] in watch
    }
    got1 = {
        (r["tok"], r["exact_cnt"], r["cms_est"])
        for r in cms_monitor_stream(spark, sf_dir).collect()
    }
    got2 = {
        (r["tok"], r["exact_cnt"], r["cms_est"])
        for r in cms_monitor_stream(spark, sf_dir).collect()
    }
    # every watch token that IS a top-20 heavy hitter must agree with
    # the batch sketch row-for-row; the streaming probe itself covers
    # all 7 watch tokens
    assert want <= got1
    assert got1 == got2


def test_token_budget_stream_replay_idempotent(spark, sf_dir):
    """token_budget_stream mid-batch crash replay: a failed attempt
    writes its totals piece=<batch_id> but loses the checkpoint
    commit.  The rerun must produce the IDENTICAL admission set —
    which holds only because the prior-totals read filters out the
    current batch's own piece; summing it would count the batch's
    tokens twice and wrongly reject docs on replay (ADVICE r8)."""
    import os
    import shutil

    from distributed_system_spark.streaming.streams import (
        token_budget_stream,
    )

    import math

    # Pick a budget that BINDS inside the last microbatch for the
    # heaviest source, so a replay that double-counts the batch's own
    # totals piece visibly changes the admission set (without this
    # the default 20k quota never binds at sf0.001 and the replay
    # check is vacuous).
    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    step = math.ceil(len(ids) / 3)
    b2_start = ids[2 * step]
    per_src = {
        r.source: (r.prior01, r.tot)
        for r in docs.select(
            "source",
            F.col("doc_id").alias("doc_id"),
            F.size(F.split("text", " ", -1)).cast("long").alias("nt"),
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("doc_id") < b2_start, F.col("nt"))
                  .otherwise(F.lit(0))).alias("prior01"),
            F.sum("nt").alias("tot"),
        )
        .collect()
    }
    src_name, (prior01, tot) = max(
        per_src.items(), key=lambda kv: kv[1][1] - kv[1][0]
    )
    budget = int(prior01 + (tot - prior01) // 2)
    assert prior01 < budget < tot, (src_name, prior01, budget, tot)

    root = keyed_dir(
        "tokbudget", f"{sf_dir}/documents.parquet", extra=str(budget)
    )
    shutil.rmtree(root, ignore_errors=True)
    got1 = {
        (r.doc_id, r.source, r.n_toks)
        for r in token_budget_stream(spark, sf_dir, budget).collect()
    }
    assert got1  # at least one admitted doc
    # the boundary really is inside batch 2 for src_name: some of its
    # batch-2 docs admitted, some rejected
    adm_b2 = {d for d, s, _ in got1 if s == src_name and d >= b2_start}
    all_b2 = {
        r.doc_id
        for r in docs.filter(
            (F.col("source") == src_name) & (F.col("doc_id") >= b2_start)
        ).collect()
    }
    assert adm_b2 and adm_b2 < all_b2, (len(adm_b2), len(all_b2))
    # simulate the mid-batch crash: last totals piece persisted,
    # checkpoint commit lost
    commits_dir = os.path.join(root, "ckpt", "commits")
    commits = sorted(
        c for c in os.listdir(commits_dir) if not c.startswith(".")
    )
    os.remove(os.path.join(commits_dir, commits[-1]))
    crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got2 = {
        (r.doc_id, r.source, r.n_toks)
        for r in token_budget_stream(spark, sf_dir, budget).collect()
    }
    assert got2 == got1


def test_domain_quota_stream_replay_idempotent(spark, sf_dir):
    """domain_quota_stream mid-batch crash replay: the (arrived,
    admitted) totals piece of the crashed attempt must be invisible
    to the rerun — same contract as token_budget_stream, now with
    TWO accumulating sums (domain arrived + global admitted).  The
    global budget is chosen to bind inside the LAST batch so a
    double-count would visibly change the admission set."""
    import math
    import os
    import shutil

    from distributed_system_spark.streaming.streams import (
        domain_quota_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    step = math.ceil(len(ids) / 3)
    b2_start = ids[2 * step]
    tot = docs.select(
        F.sum(F.size(F.split("text", " ", -1))).cast("long")
    ).collect()[0][0]
    prior01 = docs.filter(F.col("doc_id") < b2_start).select(
        F.sum(F.size(F.split("text", " ", -1))).cast("long")
    ).collect()[0][0]
    # domain cap never binds; global budget binds mid-batch-2
    dcap = int(tot)
    budget = int(prior01 + (tot - prior01) // 2)
    assert prior01 < budget < tot

    root = keyed_dir(
        "domquota", f"{sf_dir}/documents.parquet", extra=f"{dcap}:{budget}"
    )
    shutil.rmtree(root, ignore_errors=True)
    got1 = {
        (r.doc_id, r.source, r.n_toks)
        for r in domain_quota_stream(spark, sf_dir, dcap, budget).collect()
    }
    adm_b2 = {d for d, _, _ in got1 if d >= b2_start}
    all_b2 = {i for i in ids if i >= b2_start}
    assert adm_b2 and adm_b2 < all_b2, (len(adm_b2), len(all_b2))
    commits_dir = os.path.join(root, "ckpt", "commits")
    commits = sorted(
        c for c in os.listdir(commits_dir) if not c.startswith(".")
    )
    os.remove(os.path.join(commits_dir, commits[-1]))
    crc = os.path.join(commits_dir, f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got2 = {
        (r.doc_id, r.source, r.n_toks)
        for r in domain_quota_stream(spark, sf_dir, dcap, budget).collect()
    }
    assert got2 == got1


def test_domain_quota_stream_budget_binds_early(spark, sf_dir):
    """domain_quota_stream with the GLOBAL budget binding inside
    batch 0 of 3: the batch oracle charges every level-1 survivor
    against the budget — including the ones the budget then rejects —
    so once it binds, NO later doc is ever admitted.  A global prior
    that sums only ADMITTED tokens under-charges and re-admits docs
    in batches 1-2 that the oracle rejects; this test pins the
    dom-arrived meter."""
    import math
    import shutil

    from distributed_system_spark.streaming.streams import (
        domain_quota_stream,
    )

    rows = sorted(
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ", -1)).cast("long").alias("n"),
        )
        .collect(),
        key=lambda r: r.doc_id,
    )
    # Domain cap binds for the heaviest sources: half the max
    # per-source total.
    per_src = {}
    for r in rows:
        per_src[r.source] = per_src.get(r.source, 0) + r.n
    dcap = max(per_src.values()) // 2
    # Batch oracle, level 1: per-source arrived prefix <= dcap.
    cum_src, dom = {}, []
    for r in rows:
        c = cum_src.get(r.source, 0) + r.n
        cum_src[r.source] = c
        if c <= dcap:
            dom.append(r)
    # Budget = half the dom-survivor tokens of batch 0 — binds early.
    step = math.ceil(len(rows) / 3)
    b1_start = rows[step].doc_id
    b0_dom = sum(r.n for r in dom if r.doc_id < b1_start)
    budget = b0_dom // 2
    assert 0 < budget < b0_dom
    # Batch oracle, level 2: global prefix over ALL dom survivors.
    cum, expect = 0, set()
    for r in dom:
        cum += r.n
        if cum <= budget:
            expect.add((r.doc_id, r.source, r.n))
    assert expect and len(expect) < len(dom)

    root = keyed_dir(
        "domquota", f"{sf_dir}/documents.parquet", extra=f"{dcap}:{budget}"
    )
    shutil.rmtree(root, ignore_errors=True)
    got = {
        (r.doc_id, r.source, r.n_toks)
        for r in domain_quota_stream(spark, sf_dir, dcap, budget).collect()
    }
    assert got == expect


def test_index_exists_probe_via_hadoop_fs(spark, tmp_path):
    """_index_exists (r11 ADVICE fix) answers through Hadoop's
    FileSystem API: absent dir -> False, metadata-only dir (_SUCCESS,
    .crc) -> False, dir with one data file -> True — the
    keep-first-rule gate every standing-index stream opens with."""
    from distributed_system_spark.streaming.streams import _index_exists

    d = tmp_path / "idx"
    assert _index_exists(spark, str(d)) is False
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.crc").write_text("x")
    assert _index_exists(spark, str(d)) is False
    (d / "part-0.parquet").write_bytes(b"PAR1")
    assert _index_exists(spark, str(d)) is True


def test_substr_freq_index_stream_incremental_and_idempotent(
    spark, sf_dir
):
    """Streaming substring dedup against the persisted shingle
    frequency index: (1) a warm re-run against the same checkpoint
    replays nothing (exactly-once), (2) the index holds one (h, mn,
    mx) piece per microbatch whose min/max doc ids lie INSIDE that
    batch's id slice — the written proof that each piece derives from
    its own batch's shingles only (history never re-shingled), (3) a
    mid-batch crash replay (commit file removed) overwrites the piece
    and leaves the drained report unchanged."""
    import math
    import os

    from distributed_system_spark.streaming.streams import (
        substring_freq_index_stream,
    )

    got1 = {
        tuple(r) for r in substring_freq_index_stream(spark, sf_dir).collect()
    }
    assert got1
    got2 = {
        tuple(r) for r in substring_freq_index_stream(spark, sf_dir).collect()
    }
    assert got2 == got1
    root = keyed_dir("substrfreq", f"{sf_dir}/documents.parquet", extra="3")
    pieces = sorted(
        d
        for d in os.listdir(os.path.join(root, "index_freq"))
        if d.startswith("piece=")
    )
    assert len(pieces) == 3
    n_docs = load_table(spark, sf_dir, "documents").count()
    step = math.ceil(n_docs / 3)
    for k, piece in enumerate(pieces):
        lo, hi = (
            spark.read.schema("h BINARY, mn BIGINT, mx BIGINT")
            .parquet(os.path.join(root, "index_freq", piece))
            .agg(F.min("mn"), F.max("mx"))
            .collect()[0]
        )
        assert k * step <= lo and hi < (k + 1) * step, (piece, lo, hi)
    commits = sorted(
        c
        for c in os.listdir(os.path.join(root, "ckpt", "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(root, "ckpt", "commits", commits[-1]))
    crc = os.path.join(root, "ckpt", "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got3 = {
        tuple(r) for r in substring_freq_index_stream(spark, sf_dir).collect()
    }
    assert got3 == got1


def test_contam_index_stream_incremental_and_idempotent(spark, sf_dir):
    """Streaming decontamination against the frozen eval index:
    (1) the drained result equals the one-shot contamination_check
    (the shared-oracle certificate, asserted directly here too),
    (2) a warm re-run against the same checkpoint replays nothing
    (exactly-once) and does NOT rebuild the frozen eval index,
    (3) each batch's freq piece derives only from its own id slice's
    TRAIN docs (history never re-shingled), (4) a mid-batch crash
    replay (commit file removed) overwrites the piece and leaves the
    drained report unchanged."""
    import math
    import os

    from distributed_system_spark.queries import load_all
    from distributed_system_spark.streaming.streams import (
        contamination_index_stream,
    )

    got1 = {
        tuple(r)
        for r in contamination_index_stream(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in load_all()["contamination_check"].fn(spark, sf_dir).collect()
    }
    assert got1 == want
    root = keyed_dir("contamstream", f"{sf_dir}/documents.parquet")
    eval_mtime = max(
        os.path.getmtime(os.path.join(root, "eval_index", f))
        for f in os.listdir(os.path.join(root, "eval_index"))
        if not f.startswith((".", "_"))
    )
    got2 = {
        tuple(r)
        for r in contamination_index_stream(spark, sf_dir).collect()
    }
    assert got2 == got1
    eval_mtime2 = max(
        os.path.getmtime(os.path.join(root, "eval_index", f))
        for f in os.listdir(os.path.join(root, "eval_index"))
        if not f.startswith((".", "_"))
    )
    assert eval_mtime2 == eval_mtime, "frozen eval index was rebuilt"
    # each hits piece probes only its own id slice's train docs
    n_docs = load_table(spark, sf_dir, "documents").count()
    step = math.ceil(n_docs / 3)
    pieces = sorted(
        d
        for d in os.listdir(os.path.join(root, "hits"))
        if d.startswith("piece=")
    )
    assert len(pieces) == 3
    for k, piece in enumerate(pieces):
        stats = (
            spark.read.schema(
                "test_doc BIGINT, train_doc BIGINT, h BINARY"
            )
            .parquet(os.path.join(root, "hits", piece))
            .agg(F.min("train_doc"), F.max("train_doc"), F.count("*"))
            .collect()[0]
        )
        if stats[2]:  # a slice may have no hits
            assert k * step <= stats[0] and stats[1] < (k + 1) * step
    commits = sorted(
        c
        for c in os.listdir(os.path.join(root, "ckpt", "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(root, "ckpt", "commits", commits[-1]))
    crc = os.path.join(root, "ckpt", "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got3 = {
        tuple(r)
        for r in contamination_index_stream(spark, sf_dir).collect()
    }
    assert got3 == got1


@pytest.mark.parametrize("nb", [2, 5])
def test_substr_freq_index_stream_batch_geometry(spark, sf_dir, nb):
    """The streaming substring dedup's AS-OF rule must hold at every
    arrival geometry, not just the registered 3-thirds staging: drive
    the stream at n ∈ {2, 5} microbatches and compare against the
    oracle re-derived for that geometry (batch = doc_id //
    ceil(n_docs/nb)) — the contamination_incr cut-invariance pattern
    applied to the KEEP-FIRST rule (r12 verdict item #6).  Unlike the
    boundary-INVARIANT contamination merge, the as-of answer is
    geometry-DEPENDENT by design (an early batch can only be
    duplicated against earlier arrivals), so each geometry gets its
    own recomputed expectation."""
    import duckdb

    from distributed_system_spark.queries.streaming_q import (
        _substr_stream_oracle,
    )
    from distributed_system_spark.streaming.streams import (
        substring_freq_index_stream,
    )

    got = {
        tuple(r)
        for r in substring_freq_index_stream(
            spark, sf_dir, n_batches=nb
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = {tuple(r) for r in con.execute(_substr_stream_oracle(nb)).fetchall()}
    assert got == want

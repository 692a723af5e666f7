"""File-source streams over the `events` table with windowed
aggregations, watermarks, and stateful dedup (SURVEY.md §2.C row C9;
A19 analog — new files in the directory are the event callbacks).

Every transformation here is expressed so that running it on the
batch DataFrame gives the same answer as running it through the
stream (the basis of both the pytest streaming suite and the
batch-oracle registry entries in queries/streaming_q.py).

Scale notes: windowed aggs shuffle once on (key, window); watermarks
bound state size — without one, session/dedup state grows without
limit at 100 TB/day. File-source streams scale by listing only new
files per microbatch (maxFilesPerTrigger throttles backfill).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from distributed_system_spark.scratch import keyed_dir
from distributed_system_spark.sources.tables import (
    canonical_event_time,
    table_path,
)

# The driver's events.parquet stores ts as TIMESTAMP(MICROS,
# isAdjustedToUTC=false) → timestamp_ntz; streams need the schema up
# front. canonical_event_time derives the engine's ts_ns/ts pair.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream_schema(src: str) -> StructType:
    """Stream schema matching the source parquet's physical ``ts``
    type. The driver has shipped events.parquet with ``ts`` as
    TIMESTAMP(NANOS) (arrives as bigint under
    ``spark.sql.legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS)
    (arrives as timestamp_ntz); a file stream needs the schema up
    front, so probe the footer and declare the matching type —
    ``canonical_event_time`` then normalizes either shape to the
    engine's ts_ns/ts contract."""
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(src).field("ts").type
    if getattr(ts_type, "unit", None) == "ns" and ts_type.tz is None:
        ts_field = StructField("ts", LongType())
    else:
        ts_field = StructField("ts", TimestampNTZType())
    return StructType(
        [ts_field if f.name == "ts" else f for f in EVENTS_SCHEMA.fields]
    )


def _index_exists(spark: SparkSession, path: str) -> bool:
    """True iff a standing-index directory exists AND holds at least
    one data file (not `_`/`.`-prefixed metadata), probed through
    Hadoop's FileSystem API so the answer is correct for ANY index
    location — file:/, hdfs:/, s3a:/ — not just the driver's local
    filesystem.  A driver-local ``os.path.exists`` probe (the r11
    pattern) would misreport "no index" on a real cluster whose index
    root lives in an object store, silently breaking the keep-first
    rule by re-admitting previously-indexed duplicates (r11 ADVICE)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return False
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def _stage_dir(sf_dir: str) -> str:
    """The file-stream source watches a DIRECTORY (files arriving in
    it are the A19 events), but the driver ships events as one file —
    so symlink it into a per-source staging dir."""
    import os

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    stage = keyed_dir("events-stream", src)
    link = os.path.join(stage, "events-000.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return stage


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet: each new file that lands is
    an A19-style event batch. Derives the same ts_ns/ts columns as the
    batch loader so stream and batch plans are interchangeable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    raw = (
        spark.readStream.schema(events_stream_schema(src))
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_dir(sf_dir))
    )
    return canonical_event_time(raw)


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-type tumbling-window counts/sums; the watermark drops
    late data and lets the store evict closed windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "cnt",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based). session_window works in
    both batch and streaming, so one definition serves the oracle
    check and the live stream."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful dedup on event_id: keeps the first arrival, drops
    replays inside the watermark horizon (exactly-once-per-id — the
    streaming face of A5's committed-pair dedup)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.dropDuplicates(["event_id"])


def _multibatch_stage_dir(
    spark: SparkSession, sf_dir: str, table: str = "events", n: int = 3
) -> str:
    """Stage ``table`` as ``n`` parquet files so a
    maxFilesPerTrigger=1 stream replays it as ``n`` microbatches —
    the multi-batch arrival pattern that actually exercises state
    carry-over (one symlinked file would collapse to a single batch)."""
    import os

    src = table_path(sf_dir, table)
    stage = keyed_dir(f"{table}-multibatch", src, extra=str(n))
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        (
            spark.read.parquet(src)
            .repartition(n)
            .write.mode("overwrite")
            .parquet(stage)
        )
    return stage


def running_totals_stateful(
    spark: SparkSession, sf_dir: str, sink_name: str = "stateful_totals_sink"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, total) maintained in explicit group state across
    microbatches — the Structured Streaming face of the reference
    master's per-key committed-output bookkeeping
    (mj_master.hpp:74-76), where state survives between file arrivals.

    The running total is accumulated in integer ten-thousandths
    (exact, order-insensitive across batch schedules) and emitted
    rounded to 2 decimals, so the final snapshot hash-matches the
    batch DECIMAL(18,4) oracle. State size is O(distinct users) —
    bounded, so no watermark eviction is needed for this aggregate;
    per-session state would add a timeout (see session_counts).

    Returns the final snapshot per user after an available-now drain:
    the last update per user (its row with the highest n_events).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += int(len(pdf))
            v = pdf["value"].astype("float64")
            # decimal(18,4) semantics: round half-away at 4 dp, sum exact
            import numpy as np

            cents += int(
                (np.sign(v) * np.floor(np.abs(v) * 10_000 + 0.5))
                .astype("int64")
                .sum()
            )
        state.update((n, cents))
        import numpy as np

        total = float(np.sign(cents) * np.floor(abs(cents) / 100 + 0.5) / 100)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    # streaming state partitions = shuffle partitions at first run;
    # a 200-wide state store for 150 users is pure per-task overhead
    # (restored below — on a cluster, size to keys/executors instead)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_multibatch_stage_dir(spark, sf_dir))
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    try:
        q = (
            updates.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    sink = spark.table(sink_name)
    # final snapshot = the last (largest-n) update each user emitted
    from pyspark.sql import Window

    latest = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return (
        sink.withColumn("_rn", latest).filter("_rn = 1").drop("_rn")
    )


def sessionize_stateful(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
    watermark: str = "30 minutes",
    sink_name: str = "stateful_sessions_sink",
) -> DataFrame:
    """Custom stateful sessionizer: ``applyInPandasWithState`` with
    **EventTimeTimeout** — the state-EVICTION primitive
    ``running_totals_stateful`` doesn't exercise.  Per-user open
    sessions live in the state store; a session closes (and emits)
    either when a later in-data event arrives more than ``gap``
    after it, or when the WATERMARK passes its end + gap and the
    group's timeout fires.  Without the timeout, every user who
    stops sending events parks an open session in the store forever —
    the unbounded-state failure mode at 100 TB/day; with it, state
    size tracks only the active-user set.

    Emits one row per CLOSED session (user_id, n_events, start_us,
    end_us, duration_us) — the same tuple the batch
    ``sessionize_events`` query produces (minus the session ordinal).
    Sessions still open when the stream drains are withheld; the
    equivalence test pins streamed == batch minus exactly that tail.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def sessions(key, pdfs, state: GroupState):
        def emit(start, last, n):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "start_us": [start],
                    "end_us": [last],
                    "duration_us": [last - start],
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield emit(start, last, n)
            return
        start, last, n = state.get if state.exists else (None, None, 0)
        # the group's rows arrive as several Arrow chunks in partition
        # order, not time order — gather them all before the gap walk
        all_ts: list[int] = []
        for pdf in pdfs:
            all_ts.extend(int(v) for v in pdf["ts_us"])
        for ts in sorted(all_ts):
            if last is None:
                start, last, n = ts, ts, 1
            elif ts - last > gap_us:
                yield emit(start, last, n)
                start, last, n = ts, ts, 1
            else:
                last, n = ts, n + 1
        if last is not None:
            state.update((start, last, n))
            # fire once the watermark passes the session's close edge;
            # clamp above the current watermark (setting a timeout at
            # or below it is an error for data arriving exactly late)
            close_ms = (last + gap_us) // 1000
            state.setTimeoutTimestamp(
                max(close_ms, state.getCurrentWatermarkMs() + 1)
            )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(_timeordered_stage_dir(sf_dir))
        )
        stream = (
            canonical_event_time(raw)
            .withColumn("ts_us", F.expr("ts_ns div 1000"))
            .withWatermark("ts", watermark)
        )
        closed = stream.groupBy("user_id").applyInPandasWithState(
            sessions,
            outputStructType=(
                "user_id long, n_events long, start_us long, "
                "end_us long, duration_us long"
            ),
            stateStructType="start long, last long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        return run_available_now(closed, sink_name, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _timeordered_stage_dir(sf_dir: str, n: int = 3) -> str:
    """Stage events as ``n`` time-ordered, non-overlapping parquet
    slices with increasing mtimes, so the file stream replays them in
    event-time order (the realistic A19 arrival pattern — and the one
    watermarked stream-stream joins are designed for; a random split
    would make every batch span the full month and everything after
    batch 1 'late'). Driver-side pyarrow staging: test fixture prep,
    not a query path."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    stage = keyed_dir("events-ordered", src, extra=str(n))
    if os.path.exists(os.path.join(stage, "_DONE")):
        return stage
    t = pq.read_table(src)
    ts_col = t["ts"]
    if getattr(ts_col.type, "unit", None) == "ns":
        # pyarrow refuses lossy ns→us downcasts; floor-divide the raw
        # int64 nanos to micros explicitly (truncation semantics match
        # canonical_event_time's `ts_ns div 1000`)
        ts_col = pc.divide(pc.cast(ts_col, pa.int64()), 1000).cast(
            pa.timestamp("us")
        )
    else:
        ts_col = pc.cast(ts_col, pa.timestamp("us"))
    t = t.set_column(
        t.schema.get_field_index("ts"),
        # normalized to microseconds, matching EVENTS_SCHEMA, so the
        # staged slices are the same for both driver generations
        "ts",
        ts_col,
    )
    t = t.sort_by("ts")
    step = (t.num_rows + n - 1) // n
    base = 1_700_000_000
    for k in range(n):
        path = os.path.join(stage, f"slice-{k:03d}.parquet")
        pq.write_table(t.slice(k * step, step), path)
        os.utime(path, (base + k, base + k))  # mtime order == time order
    open(os.path.join(stage, "_DONE"), "w").close()
    return stage


def view_click_attribution(
    events: DataFrame,
    max_gap_minutes: int = 30,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream self-join: attribute each click to the view(s) by
    the same user in the preceding ``max_gap_minutes``. Works on the
    batch frame (the oracle face) and on a streaming frame, where both
    sides carry watermarks and the time-range condition lets Spark
    evict join state older than gap+watermark — without it,
    stream-stream join state grows unboundedly (the 100 TB/day
    failure mode). Inner-join matches emit eagerly; the watermark only
    bounds state.

    ``how="left_outer"`` additionally emits each unmatched view with null
    click columns — in streaming, an unmatched view emits only once
    the watermark passes the end of its match window (the state is
    then provably complete and evictable), so tail views whose window
    is still open when the stream drains are withheld; the batch face
    emits all of them.  That timing difference is streaming left-outer
    semantics, asserted in tests/test_streaming.py.
    """
    # Watermark the SHARED source before splitting into sides: each
    # side of a self-join re-instantiates the subtree, so a watermark
    # applied after the event-type filter would track only that side's
    # events — a click drought stalls the click-side watermark at the
    # last click, the query watermark (min across nodes) stalls with
    # it, and left-outer state is never evicted.  Watermarking first
    # means both nodes observe the full event flow and advance
    # together (the true source watermark).
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    v = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (
            F.col("c_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        )
    )
    return v.join(c, cond, how).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )


def pieces_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink appending one parquet 'piece' per microbatch —
    the streaming face of SDFS append (A15, mock_sdfs_client.cpp:
    218-257: each append adds a numbered piece; readers concatenate).

    Exactly-once across restarts AND mid-batch crashes (A5's
    committed-pair dedup): the checkpoint skips batch_ids already
    committed, and each piece lands at a deterministic per-batch path
    (``piece=<batch_id>``, overwrite mode) so a batch replayed after
    a crash *between* the data write and the checkpoint commit simply
    rewrites the same piece instead of duplicating it — foreachBatch
    with a plain append is only at-least-once under that window.
    Readers see the pieces as a partitioned parquet layout; the
    ``piece`` discovery column is the piece number (mock_sdfs_client
    .cpp numbered-piece analog).  Drain with the available-now
    trigger.
    """

    def write_piece(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/piece={batch_id}"
        )

    q = (
        stream_df.writeStream.foreachBatch(write_piece)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a stream with the available-now trigger into a memory
    sink and return the result table — the batch-bounded way to test
    streaming semantics. Aggregations want mode 'complete';
    row-preserving streams (dedup) want 'append'."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def cdc_apply_stream(
    spark: SparkSession,
    sf_dir: str,
    store,
    target: str = "mv/latest_per_key",
) -> DataFrame:
    """Incremental materialized-view maintenance: a ``foreachBatch``
    sink applies each microbatch of events as a keep-latest MERGE
    into a :class:`DatasetStore` dataset — the streaming twin of the
    batch ``cdc_latest_per_key`` compaction, and the A15+A5 shape
    (append-arriving data folded into a stored table with replay
    safety).

    Per batch: reduce the batch to its latest row per (user_id,
    event_type), union with the current stored view, keep-latest
    again, overwrite.  Overwrite from a deterministic merge makes a
    replayed batch a no-op (idempotent — the exactly-once story
    without needing a transactional table format).  At 100 TB the
    same plan works with a partitioned target: the merge shuffles
    only (batch ∪ current-view), and the view stays compacted at one
    row per key, so cost tracks key cardinality, not history length.

    Returns the final view DataFrame read back from the store.
    """
    from pyspark.sql import Window

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("last_ts_us").desc(), F.col("last_event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def as_changes(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.expr("ts_ns div 1000").alias("last_ts_us"),
            F.col("value").alias("last_value"),
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        changes = latest(as_changes(batch_df))
        if store.exists(target):
            merged = latest(store.get(target).unionByName(changes))
        else:
            merged = changes
        # localCheckpoint: the merge plan must not lazily re-read the
        # store path we are about to overwrite
        store.put(merged.localCheckpoint(eager=True), target)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(_timeordered_stage_dir(sf_dir))
        )
        stream = canonical_event_time(raw)
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return store.get(target)


DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def docs_quality_gate_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingestion curation: documents arrive as microbatches,
    the (stateless, per-row) heuristic quality gate drops junk, and
    survivors append to a piece-file sink with a checkpoint — the
    incremental face of `curation_pipeline`'s first stage.  Because
    the gate is stateless, the drained sink equals the batch filter
    exactly (the oracle); the checkpoint makes re-runs exactly-once
    (replayed batch_ids are skipped), so the query is idempotent.
    """
    import os

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("docs-gate", src)
    out_dir, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")

    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_multibatch_stage_dir(spark, sf_dir, "documents"))
    )
    t = F.split("text", " ", -1)
    gated = raw.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_unique"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias(
            "n_punct"
        ),
        F.length("text").alias("len_chars"),
    ).filter(
        F.col("n_tokens").between(5, 1000)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") > 0.1)
        & (F.col("n_punct").cast("double") / F.col("len_chars") < 0.2)
    ).select("doc_id", "n_tokens")
    pieces_sink(gated, out_dir, ckpt)
    return (
        spark.read.schema("doc_id BIGINT, n_tokens BIGINT")
        .parquet(out_dir)
        .select("doc_id", "n_tokens")  # drop the piece discovery col
    )


def _docs_idordered_stage_dir(sf_dir: str, n: int = 3) -> str:
    """Stage documents as ``n`` doc_id-ordered, non-overlapping slices
    with increasing mtimes so the file stream replays them as the
    id-ordered arrival the incremental dedup contract assumes (new
    batches carry higher ids than everything already indexed — the
    ingestion reality the keep-FIRST rule encodes).  Same pyarrow
    staging discipline as _timeordered_stage_dir."""
    import os

    import pyarrow.parquet as pq

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    stage = keyed_dir("docs-idordered", src, extra=str(n))
    if os.path.exists(os.path.join(stage, "_DONE")):
        return stage
    t = pq.read_table(src).sort_by("doc_id")
    step = (t.num_rows + n - 1) // n
    base = 1_700_000_000
    for k in range(n):
        path = os.path.join(stage, f"slice-{k:03d}.parquet")
        pq.write_table(t.slice(k * step, step), path)
        os.utime(path, (base + k, base + k))
    open(os.path.join(stage, "_DONE"), "w").close()
    return stage


def signature_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MinHash-LSH dedup against a PERSISTED
    signature index — the streaming face of `dedup_incremental`, and
    the shape a 100 TB ingestion pipeline actually runs: documents
    arrive as id-ordered microbatches; each batch's band signatures
    join the standing index (signatures only — NEVER the historical
    texts), candidates verify by exact Jaccard over stored token
    sets, survivors append to the output, and the batch's signatures
    + token sets append to the index.  History is never re-deduped;
    per-batch work is (batch x colliding-buckets), not corpus².

    Exactly-once: the checkpoint skips committed batch_ids and every
    per-batch write (output piece, index pieces) lands at a
    deterministic ``piece=<batch_id>`` path with overwrite, so a
    mid-batch crash replay rewrites instead of duplicating (the
    pieces_sink discipline).

    The drained output equals the batch keep-first rule (doc kept
    iff no smaller-id LSH-candidate with Jaccard >= 0.8) because the
    index stores ALL processed docs' signatures — kept and dropped
    alike — exactly like the batch pair rule; that equality is the
    registered oracle.
    """
    import os

    from distributed_system_spark.operators.dedup import (
        doc_token_sets,
        minhash_band_signatures_sets,
    )

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("sigidx", src)
    out_dir = os.path.join(root, "out")
    bands_dir = os.path.join(root, "index_bands")
    toks_dir = os.path.join(root, "index_toks")
    ckpt = os.path.join(root, "ckpt")

    bands_schema = "id BIGINT, band INT, sig STRING"
    toks_schema = "id BIGINT, ts ARRAY<STRING>"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        docs = batch_df.localCheckpoint(eager=True)
        # token sets assembled map-side (doc_token_sets ≡ the explode
        # + groupBy(collect_set) form, twin-tested) — the r13 shuffle
        # deletion applied to the per-batch index piece as well; the
        # band build derives from the same set table (min over
        # distinct tokens ≡ min over tokens, same md5 composition, so
        # the STANDING index written by earlier batches stays valid)
        # — the batch is tokenized ONCE, not once per table
        tsets = doc_token_sets(docs).localCheckpoint(eager=True)
        bands = minhash_band_signatures_sets(tsets)
        have_index = _index_exists(s, bands_dir)
        if have_index:
            idx_bands = s.read.schema(bands_schema).parquet(bands_dir)
            idx_toks = s.read.schema(toks_schema).parquet(toks_dir)
            all_bands = idx_bands.select("id", "band", "sig").unionByName(
                bands
            )
            all_tsets = idx_toks.select("id", "ts").unionByName(tsets)
        else:
            all_bands, all_tsets = bands, tsets
        probe = bands.select(
            F.col("id").alias("id_b"), "band", "sig"
        )
        cand = (
            all_bands.select(F.col("id").alias("id_a"), "band", "sig")
            .join(probe, ["band", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        sa = all_tsets.select(
            F.col("id").alias("id_a"), F.col("ts").alias("ts_a")
        )
        sb = tsets.select(
            F.col("id").alias("id_b"), F.col("ts").alias("ts_b")
        )
        inter = F.size(F.array_intersect("ts_a", "ts_b"))
        jac = inter / (F.size("ts_a") + F.size("ts_b") - inter)
        dups = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(F.round(jac.cast("double"), 6) >= 0.8)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        kept = docs.join(dups, "doc_id", "left_anti").select(
            "doc_id", "n_chars"
        )
        kept.write.mode("overwrite").parquet(
            f"{out_dir}/piece={batch_id}"
        )
        bands.write.mode("overwrite").parquet(
            f"{bands_dir}/piece={batch_id}"
        )
        tsets.write.mode("overwrite").parquet(
            f"{toks_dir}/piece={batch_id}"
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        raw = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_idordered_stage_dir(sf_dir))
        )
        q = (
            raw.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.read.schema("doc_id BIGINT, n_chars BIGINT")
        .parquet(out_dir)
        .select("doc_id", "n_chars")
    )


def phash_signature_index_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental IMAGE dedup against a persisted
    average-hash signature index — the image modality's
    ``signature_index_stream`` (r10 verdict item #5: text had the
    standing MinHash index, embeddings had ``ann_index_upsert``, but
    image dedup was batch-only; a real curation pipeline re-ingests
    images daily and must never re-decode history).

    Per id-ordered microbatch: decode ONLY the batch's images (the
    real PPM codec + 32-bit integer aHash, ``image_ahash``), probe
    the standing (doc_id, sig) index for hamming<=2 matches via the
    4x8-bit banded DISTINCT-SIG join (``dedup_phash_hamming``'s
    bounded-candidate shape: recall exact by pigeonhole — 2 dirty
    bits can break at most 2 of 4 bands), keep docs with no
    smaller-id match, and append the batch's signatures to the index.
    History contributes 8-byte signatures to the probe — its image
    BYTES are never re-read or re-decoded.

    Exactly-once: checkpoint + deterministic ``piece=<batch_id>``
    overwrite paths, the pieces_sink discipline.

    The drained output equals the batch keep-first rule (doc kept iff
    no smaller-id image within hamming 2 — the registered all-pairs
    oracle) because the index stores every processed image's
    signature, kept and dropped alike.

    At 100 TB: per-batch work is decode(batch) + (batch-sigs ×
    colliding blocks) — candidates bounded by the 32-bit signature
    population (<= 528 hamming-2 neighbors per sig), never
    corpus x batch; the standing index carries 12 bytes/image."""
    import os

    from distributed_system_spark.operators.multimodal import (
        image_ahash,
        ppm_payloads,
    )

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("phashidx", src)
    out_dir = os.path.join(root, "out")
    idx_dir = os.path.join(root, "index_sigs")
    ckpt = os.path.join(root, "ckpt")
    idx_schema = "doc_id BIGINT, sig BIGINT"

    def _blocks(usig: DataFrame, sig_alias: str) -> DataFrame:
        return usig.select(
            F.col("sig").alias(sig_alias),
            F.explode(F.array(*[F.lit(b) for b in range(4)])).alias(
                "band"
            ),
        ).withColumn(
            "block", F.expr(f"shiftright({sig_alias}, band * 8) & 255")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        docs = batch_df.filter(F.length("text") >= 24).localCheckpoint(
            eager=True
        )
        sigs = image_ahash(ppm_payloads(docs), bits=32).localCheckpoint(
            eager=True
        )
        have_index = _index_exists(s, idx_dir)
        if have_index:
            idx = s.read.schema(idx_schema).parquet(idx_dir)
            all_sigs = idx.select("doc_id", "sig").unionByName(sigs)
        else:
            all_sigs = sigs
        # banded candidate SIG pairs (both directions + equal sigs:
        # arrival order, not sig order, decides who survives)
        qs = (
            _blocks(all_sigs.select("sig").distinct(), "sig_a")
            .join(_blocks(sigs.select("sig").distinct(), "sig_b"),
                  ["band", "block"])
            .select("sig_a", "sig_b")
            .distinct()
            .filter(
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                <= 2
            )
        )
        dropped = (
            sigs.select("doc_id", F.col("sig").alias("sig_b"))
            .join(qs, "sig_b")
            .join(
                all_sigs.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("sig").alias("sig_a"),
                ),
                "sig_a",
            )
            .filter(F.col("id_a") < F.col("doc_id"))
            .select("doc_id")
            .distinct()
        )
        kept = sigs.join(dropped, "doc_id", "left_anti")
        kept.write.mode("overwrite").parquet(f"{out_dir}/piece={batch_id}")
        sigs.write.mode("overwrite").parquet(f"{idx_dir}/piece={batch_id}")

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        raw = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_idordered_stage_dir(sf_dir))
        )
        q = (
            raw.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.read.schema(idx_schema)
        .parquet(out_dir)
        .select("doc_id", "sig")
    )


def substring_freq_index_stream(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> DataFrame:
    """Streaming exact-substring dedup against a persisted shingle
    FREQUENCY index — the streaming face of
    ``dedup_substring_chains_incr``, completing the standing-index
    story for the fourth dedup family (text MinHash
    ``signature_index_stream``, image aHash
    ``phash_signature_index_stream``, embeddings ``ann_index_upsert``;
    reference analog: per-append event callbacks,
    mock_sdfs_master.cpp:35-67).

    Per id-ordered microbatch: shingle ONLY the batch's docs (stride-1
    8-token windows, 16-byte md5), probe the standing (h, mn, mx) =
    (hash, min doc_id, max doc_id) frequency index RESTRICTED to the
    batch's own hashes (semi-join — the probe reads index bytes
    proportional to the batch, not to history), merge with the batch's
    own frequencies (min/max are mergeable), mark positions whose
    shingle spans >1 distinct doc, chain them (gap<=8) into maximal
    spans, and emit the batch's per-doc span report piece.  The
    batch's (h, mn, mx) piece then APPENDS to the index — history
    texts are never re-shingled, merge-on-read, the LSM discipline.

    Semantics are AS-OF ARRIVAL (the keep-first-family rule): a
    position in batch b is duplicated iff some OTHER doc in batches
    <= b shares its shingle — exactly ``merged min != max`` because
    the probing doc's own id is always in the merge.  The registered
    oracle recomputes that from scratch with an EXISTS over
    (batch(q) <= batch(p)), batch = doc_id // ceil(n/3) — the same
    thirds ``_docs_idordered_stage_dir`` stages (ids are dense and the
    slices are id-ordered).

    Exactly-once: checkpoint + deterministic ``piece=<batch_id>``
    overwrite paths (the pieces_sink discipline).

    Scale: per-batch work is linear in the batch's tokens + one
    partial-agg groupBy on the 16-byte hash; the index grows with
    distinct-shingle count; no pair emission anywhere (position rows
    join one frequency row each) — a hot boilerplate shingle costs
    its posting count, never posting².

    ``n_batches`` controls the arrival geometry (how many id-ordered
    slices the corpus is staged as).  The registered query runs the
    default 3; the per-geometry as-of answers at n ∈ {2, 5} are
    pinned against a recomputed oracle by
    tests/test_streaming.py::test_substr_freq_index_stream_batch_geometry
    — the KEEP-FIRST rule's batch-boundary behavior is tested, not
    assumed (r12 verdict item #6).  Roots are keyed by the geometry
    so checkpoints from different n never mix.
    """
    import os

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("substrfreq", src, extra=str(n_batches))
    out_dir = os.path.join(root, "out")
    freq_dir = os.path.join(root, "index_freq")
    ckpt = os.path.join(root, "ckpt")
    freq_schema = "h BINARY, mn BIGINT, mx BIGINT"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        docs = batch_df.localCheckpoint(eager=True)
        t = docs.select(
            "doc_id",
            F.split("text", " ", -1).alias("toks"),
            F.size(F.split("text", " ", -1)).cast("long").alias("n"),
        )
        pos = t.select(
            "doc_id",
            F.explode(
                F.when(
                    F.col("n") >= 8,
                    F.sequence(F.lit(1).cast("long"), F.col("n") - 7),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("j"),
            "toks",
        ).select(
            "doc_id",
            "j",
            F.unhex(
                F.md5(
                    F.array_join(
                        F.slice("toks", F.col("j").cast("int"), 8), " "
                    ).cast("binary")
                )
            ).alias("h"),
        )
        own_freq = pos.groupBy("h").agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        )
        if _index_exists(s, freq_dir):
            idx = (
                s.read.schema(freq_schema)
                .parquet(freq_dir)
                .select("h", "mn", "mx")  # drop the piece discovery col
            )
            merged = idx.join(
                own_freq.select("h"), "h", "leftsemi"
            ).unionByName(own_freq)
        else:
            merged = own_freq
        hot = (
            merged.groupBy("h")
            .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
            .filter(F.col("mn") != F.col("mx"))
            .select("h")
        )
        dup = pos.join(hot, "h").select("doc_id", "j")
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("j")
        chain = dup.withColumn(
            "new_span",
            F.when(F.col("j") - F.lag("j").over(w) <= 8, 0).otherwise(1),
        )
        spans = chain.withColumn(
            "span_id",
            F.sum("new_span").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        agg = spans.groupBy("doc_id", "span_id").agg(
            (F.max("j") - F.min("j") + 8).alias("covered")
        )
        per_doc = agg.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("covered").cast("long").alias("covered_tokens"),
        )
        report = (
            t.select("doc_id", "n")
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_dup_spans", F.lit(0))
                .cast("long")
                .alias("n_dup_spans"),
                F.coalesce("covered_tokens", F.lit(0))
                .cast("long")
                .alias("covered_tokens"),
                F.col("n").alias("n_tokens"),
                F.round(
                    (
                        F.coalesce("covered_tokens", F.lit(0)).cast(
                            "double"
                        )
                        / F.col("n")
                    ).cast("decimal(18,12)"),
                    6,
                )
                .cast("double")
                .alias("coverage_rate"),
            )
        )
        report.write.mode("overwrite").parquet(
            f"{out_dir}/piece={batch_id}"
        )
        own_freq.write.mode("overwrite").parquet(
            f"{freq_dir}/piece={batch_id}"
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        raw = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_idordered_stage_dir(sf_dir, n_batches))
        )
        q = (
            raw.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.read.schema(
            "doc_id BIGINT, n_dup_spans BIGINT, covered_tokens BIGINT, "
            "n_tokens BIGINT, coverage_rate DOUBLE"
        )
        .parquet(out_dir)
        .select(
            "doc_id",
            "n_dup_spans",
            "covered_tokens",
            "n_tokens",
            "coverage_rate",
        )
    )


def contamination_index_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming eval-set decontamination against a FROZEN eval-gram
    index — the streaming face of ``contamination_incr``, giving the
    contamination family the exactly-once microbatch form the other
    four standing-index families already have (text MinHash, image
    aHash, embeddings, exact-substring; reference analog: per-append
    event callbacks, mock_sdfs_master.cpp:35-67 — r12 verdict item
    #3).

    Day 0 (once, gated on index existence): the frozen TEST split is
    shingled into its distinct word-8-gram postings (test_doc, h) and
    persisted — the eval set's text is never re-read afterwards, the
    "frozen benchmark" reality (eval sets don't grow with the crawl).
    Then each id-ordered documents microbatch keeps only its TRAIN
    docs, shingles them ONCE, and appends two pieces derived from
    that one pass: a mergeable (h, n) train-gram frequency piece and
    the batch's probe HITS (test_doc, train_doc, h) against the
    persisted eval index.  The drained readout applies the
    >100-train-doc boilerplate suppression at MERGE time (counts are
    mergeable, so suppression over summed pieces == the one-shot
    rule) and counts shared grams per (test, train) pair.

    The result is batch-boundary INVARIANT — every train doc's grams
    land in exactly one piece, and both the frequency sum and the hit
    union are order-insensitive — so the registered oracle is
    ``contamination_check``'s, shared verbatim (unlike the
    as-of-arrival substring stream, whose answer is geometry-
    dependent by design).

    Exactly-once: checkpoint + deterministic ``piece=<batch_id>``
    overwrite paths (the pieces_sink discipline); a crash replay
    rewrites a piece instead of duplicating it.

    Scale: per-batch work is linear in the day's train arrivals (one
    shingle pass + one partial-agg groupBy on the 16-byte binary
    key); probes read eval-index bytes proportional to the join — the
    eval index is eval-set-sized, broadcastable in practice; hits are
    output mass.  At 100 TB/day the cost is the day's data, never the
    accumulated corpus.
    """
    import os

    from distributed_system_spark.queries.text_q import _distinct_8grams

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("contamstream", src)
    eval_dir = os.path.join(root, "eval_index")
    freq_dir = os.path.join(root, "freq")
    hits_dir = os.path.join(root, "hits")
    ckpt = os.path.join(root, "ckpt")

    b2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(b2 < "cd", "train").when(b2 < "e6", "val").otherwise("test")
    )

    def grams_of(docs: DataFrame, id_alias: str) -> DataFrame:
        return docs.select(
            F.col("doc_id").alias(id_alias),
            F.split("text", " ", -1).alias("toks"),
        ).select(id_alias, F.explode(_distinct_8grams()).alias("h"))

    if not _index_exists(spark, eval_dir):
        grams_of(
            spark.read.schema(DOCS_SCHEMA)
            .parquet(src)
            .withColumn("split", split)
            .filter(F.col("split") == "test"),
            "test_doc",
        ).write.mode("overwrite").parquet(eval_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        train = (
            batch_df.withColumn("split", split)
            .filter(F.col("split") == "train")
            .localCheckpoint(eager=True)
        )
        g = grams_of(train, "train_doc").localCheckpoint(eager=True)
        g.groupBy("h").agg(F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{freq_dir}/piece={batch_id}")
        eval_index = s.read.schema("test_doc BIGINT, h BINARY").parquet(
            eval_dir
        )
        g.join(eval_index, "h").select(
            "test_doc", "train_doc", "h"
        ).write.mode("overwrite").parquet(f"{hits_dir}/piece={batch_id}")

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        raw = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(_docs_idordered_stage_dir(sf_dir))
        )
        q = (
            raw.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    common = (
        spark.read.schema("h BINARY, n BIGINT")
        .parquet(freq_dir)
        .groupBy("h")
        .agg(F.sum("n").alias("n_train"))
        .filter(F.col("n_train") <= 100)
        .select("h")
    )
    hits = spark.read.schema(
        "test_doc BIGINT, train_doc BIGINT, h BINARY"
    ).parquet(hits_dir)
    return (
        hits.join(common, "h")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def make_totals_processor():
    """Build the ``Totals`` StatefulProcessor class for
    :func:`user_totals_tws`.

    Defined OUTSIDE the protobuf gate on purpose: the class itself is
    pure pandas logic (pyspark's ``stateful_processor`` module imports
    without protobuf — only the runtime state-server protocol needs
    it), so tests/test_streaming.py can drive ``handleInputRows``
    directly through a fake handle in containers where the JVM runner
    cannot start.  Deferred to a factory (not module level) only so
    the class object is built fresh per query — Spark serializes the
    processor instance into the stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, ten_thousandths BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, tt = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                tt += int(round(float(pdf["value"].sum()) * 10_000))
            self._state.update((n, tt))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(tt / 10_000, 2)],
                }
            )

        def close(self) -> None:
            pass

    return Totals


def user_totals_tws(
    spark: SparkSession, sf_dir: str, sink_name: str = "tws_totals_sink"
) -> DataFrame:
    """Per-user running totals on Spark 4's ``transformWithStateInPandas``
    — the successor stateful API to ``applyInPandasWithState`` (which
    `running_totals_stateful` demonstrates): a ``StatefulProcessor``
    class with typed, named state handles (ValueState here; the API
    also offers ListState/MapState and per-key timers) instead of a
    single opaque state tuple.  Same contract as its predecessor:
    totals accumulate in integer ten-thousandths (exact,
    order-insensitive across batch schedules), and the final per-user
    snapshot equals the batch GROUP BY.  State is O(distinct users).

    DEPENDENCY GATE: Spark's transformWithState Python runner talks
    protobuf to the JVM state server, so it needs the ``protobuf``
    package — absent in this container (the applyInPandasWithState
    path needs no extra deps and stays the tested default).  Raises
    NotImplementedError with that explanation when protobuf is
    missing; tests/test_streaming.py runs the full equivalence check
    whenever the dep IS present (pytest.importorskip).
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package "
            "(Spark's Python state-server protocol); use "
            "running_totals_stateful (applyInPandasWithState) in this "
            "container"
        ) from exc
    Totals = make_totals_processor()

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(_multibatch_stage_dir(spark, sf_dir))
        )
        stream = canonical_event_time(raw)
        updates = stream.groupBy("user_id").transformWithStateInPandas(
            Totals(),
            outputStructType=(
                "user_id long, n_events long, total_value double"
            ),
            outputMode="Update",
            timeMode="None",
        )
        snap = run_available_now(
            updates, sink_name, output_mode="update"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # Final snapshot per user = the update row with the highest count.
    from pyspark.sql import Window

    return (
        snap.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("n_events").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


def drift_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: documents arrive as microbatches and
    each batch appends only its 10-BIN COUNTER DELTA (train/test
    cohort counts per length bin) to a checkpointed piece sink —
    never raw rows.  The final PSI report merges the per-batch
    counters and runs the shared psi_from_bin_counts tail, and is
    EXACTLY equal to the batch drift_psi because bin counters are
    mergeable (the stats_mergeable_moments property, applied to the
    monitor itself).

    This is how a 100 TB standing monitor actually runs: per-batch
    state is 10 rows regardless of batch size, history is never
    rescanned, and a crash replays into the same deterministic
    per-batch piece (pieces_sink semantics — exactly-once)."""
    import os

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("drift-monitor", src)
    out_dir, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")

    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_multibatch_stage_dir(spark, sf_dir, "documents"))
    )
    # The bin/split assignment is IMPORTED from drift_q (not
    # re-hardcoded) so a change to the batch drift_psi can never
    # silently break the streaming==batch exact-equality contract.
    from distributed_system_spark.queries.drift_q import (
        char_bin_expr,
        md5_split_expr,
    )

    assign = raw.select(
        char_bin_expr().alias("bin"),
        md5_split_expr().alias("split"),
    ).filter(F.col("split") != "val")

    def write_counts(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("bin")
            .agg(
                F.count(F.when(F.col("split") == "train", 1)).alias(
                    "r_cnt"
                ),
                F.count(F.when(F.col("split") == "test", 1)).alias(
                    "c_cnt"
                ),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/piece={batch_id}")
        )

    q = (
        assign.writeStream.foreachBatch(write_counts)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from distributed_system_spark.queries.drift_q import (
        psi_from_bin_counts,
    )

    merged = (
        spark.read.schema("bin BIGINT, r_cnt BIGINT, c_cnt BIGINT")
        .parquet(out_dir)
        .groupBy("bin")
        .agg(F.sum("r_cnt").alias("r_cnt"), F.sum("c_cnt").alias("c_cnt"))
    )
    return psi_from_bin_counts(spark, merged)


def cusum_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM volume monitor: each events microbatch appends
    only its per-DAY count delta (|days-touched| rows, not raw
    events) to a checkpointed piece sink, and the drained report
    merges the day counters through the shared cusum_from_day_counts
    tail — exactly equal to the batch ts_changepoint_cusum because
    day counters are mergeable (the drift_monitor_stream pattern for
    change-point detection).  State per batch is bounded by the
    calendar, never the batch size; history is never rescanned."""
    import os

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    root = keyed_dir("cusum-monitor", src)
    out_dir, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")

    # EVENTS_SCHEMA (TimestampNTZ ts), NOT events_stream_schema(src):
    # _timeordered_stage_dir always rewrites ts to TIMESTAMP(MICROS),
    # so probing the ORIGINAL events.parquet would declare LongType
    # for a TIMESTAMP(NANOS) source generation and fail at read time.
    # Every reader of the staged dir uses EVENTS_SCHEMA.
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_timeordered_stage_dir(sf_dir))
    )
    days = canonical_event_time(raw).select(
        F.expr("ts_ns div 1000 div 86400000000").alias("day")
    )

    def write_counts(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("day")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/piece={batch_id}")
        )

    q = (
        days.writeStream.foreachBatch(write_counts)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from distributed_system_spark.queries.timeseries import (
        cusum_from_day_counts,
    )

    merged = (
        spark.read.schema("day BIGINT, cnt BIGINT")
        .parquet(out_dir)
        .groupBy("day")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return cusum_from_day_counts(spark, merged)


_CMS_WATCH = ("the", "a", "of", "and", "to", "is", "in")


def cms_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming COUNT-MIN maintenance: each documents microbatch
    appends only its 4x512 sketch-grid DELTA (plus exact counters for
    the 7-token watchlist) to a checkpointed piece sink — counter
    grids are mergeable by addition, so the drained merge equals the
    batch-built sketch EXACTLY and the report (watch token, exact
    count, CMS estimate, overestimate) matches the batch oracle.
    Same standing-monitor shape as drift_monitor_stream /
    cusum_monitor_stream: per-batch state is <= 2048 + 7 rows
    regardless of batch size, history is never rescanned, re-runs are
    exactly-once via the checkpoint + deterministic pieces."""
    import os

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("cms-monitor", src)
    out_dir, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    watch_dir = os.path.join(root, "watch")

    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_multibatch_stage_dir(spark, sf_dir, "documents"))
    )
    toks = raw.select(
        F.explode(F.split("text", " ", -1)).alias("tok")
    )
    rs = F.array(*[F.lit(r) for r in range(4)])
    cells = toks.select(
        "tok", F.explode(rs).alias("r")
    ).select(
        "r",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("r").cast("string"),
                            F.lit(":"),
                            F.col("tok"),
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 512
        ).alias("bucket"),
        "tok",
    )

    def write_deltas(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.groupBy("r", "bucket")
                .agg(F.count(F.lit(1)).alias("c"))
                .write.mode("overwrite")
                .parquet(f"{out_dir}/piece={batch_id}")
            )
            (
                batch_df.filter(
                    (F.col("r") == 0) & F.col("tok").isin(*_CMS_WATCH)
                )
                .groupBy("tok")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .write.mode("overwrite")
                .parquet(f"{watch_dir}/piece={batch_id}")
            )
        finally:
            batch_df.unpersist()

    q = (
        cells.writeStream.foreachBatch(write_deltas)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    grid = (
        spark.read.schema("r INT, bucket BIGINT, c BIGINT")
        .parquet(out_dir)
        .groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    exact = (
        spark.read.schema("tok STRING, cnt BIGINT")
        .parquet(watch_dir)
        .groupBy("tok")
        .agg(F.sum("cnt").alias("exact_cnt"))
    )
    probe = exact.select(
        "tok", "exact_cnt", F.explode(rs).alias("r")
    ).select(
        "tok",
        "exact_cnt",
        "r",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("r").cast("string"),
                            F.lit(":"),
                            F.col("tok"),
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 512
        ).alias("bucket"),
    )
    return (
        probe.join(grid, ["r", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
        .select(
            "tok",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("overestimate"),
        )
    )


def decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DECONTAMINATION against a frozen eval set: train-split
    documents arrive as microbatches and each is checked against a
    STATIC suppressed-8-gram index of the eval (test-split) documents
    — the production shape where the benchmark suite is frozen and
    pretraining data streams past it.  A train doc sharing >= 3
    distinct suppressed grams with any eval doc is emitted to the
    quarantine sink with its evidence (how many eval docs it hit, the
    strongest overlap).

    Stateless per batch BY CONSTRUCTION: a doc's verdict depends only
    on its own grams and the static index (every gram of a doc rides
    in the doc's own microbatch), so the drained sink equals the batch
    contamination join exactly — the oracle.  Exactly-once via the
    checkpointed per-batch overwrite pieces (pieces_sink).

    Scale shape: the eval index is built ONCE (grams in > 100 eval
    docs suppressed — boilerplate that would otherwise fan out the
    join); per batch the work is an equi-join of the batch's grams
    against the index plus two bounded aggregations.  Real eval
    suites are MBs — the index broadcasts; history is never re-read.
    """
    import os

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("decontam", src)
    out_dir, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")

    b = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
    )
    toks = F.split("text", " ", -1)
    grams8 = F.when(
        F.size("toks") >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 7),
                lambda i: F.md5(
                    F.array_join(F.slice("toks", i, 8), " ").cast("binary")
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))

    docs = spark.read.parquet(src)
    eval_g = (
        docs.select("doc_id", split.alias("split"), toks.alias("toks"))
        .filter(F.col("split") == "test")
        .select(
            F.col("doc_id").alias("eval_doc"), F.explode(grams8).alias("h")
        )
    )
    common = (
        eval_g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_eval"))
        .filter(F.col("n_eval") <= 100)
        .select("h")
    )
    eval_idx = eval_g.join(common, "h")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tg = (
            batch_df.select(
                "doc_id", split.alias("split"), toks.alias("toks")
            )
            .filter(F.col("split") == "train")
            .select("doc_id", F.explode(grams8).alias("h"))
        )
        hits = (
            tg.join(eval_idx, "h")
            .groupBy("doc_id", "eval_doc")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= 3)
        )
        out = hits.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.max("n_shared").cast("long").alias("max_shared"),
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/piece={batch_id}")

    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_multibatch_stage_dir(spark, sf_dir, "documents"))
    )
    q = (
        raw.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(
            "doc_id BIGINT, n_eval_docs BIGINT, max_shared BIGINT"
        )
        .parquet(out_dir)
        .select("doc_id", "n_eval_docs", "max_shared")
    )


def token_budget_stream(
    spark: SparkSession, sf_dir: str, budget: int = 20000
) -> DataFrame:
    """Streaming ADMISSION CONTROL under a per-source token budget —
    the streaming face of ``dataset_token_budget``: documents arrive
    as id-ordered microbatches, and a doc is ADMITTED while its
    source's cumulative ARRIVED token count (prior batches + the
    within-batch prefix, arrival order) stays within the ``budget``
    (default 20,000) token quota.  State is a standing per-source totals table maintained
    exactly like ``signature_index_stream``'s signature index: each
    batch reads the prior totals (a |sources|-row aggregate — never
    history's rows), admits against prior + in-batch cumulative, and
    appends its own per-source arrival sums as a totals piece.

    Exactly-once via the checkpoint + deterministic per-batch
    overwrite pieces — and the prior-totals read EXCLUDES the
    current batch's own piece (``piece != batch_id``): unlike the
    content-idempotent signature index, an accumulating sum is only
    replay-idempotent if a crashed attempt's own partial write is
    invisible to the rerun, otherwise the replayed batch would count
    its own tokens as prior and produce wrong admission verdicts
    (pinned by test_token_budget_stream_replay_idempotent).  The
    drained output equals the batch greedy
    prefix rule (cum over doc_id order per source <= 20,000) — the
    registered oracle — because id-ordered staging makes arrival
    order the doc_id order, the same ingestion contract
    signature_index_stream documents.

    Scale shape: per batch, one window over the batch's own rows plus
    a broadcast-sized totals join; the budget decision never touches
    historical documents."""
    import os

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir("tokbudget", src, extra=str(budget))
    out_dir = os.path.join(root, "out")
    totals_dir = os.path.join(root, "totals")
    ckpt = os.path.join(root, "ckpt")
    totals_schema = "source STRING, toks BIGINT"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        s = batch_df.sparkSession
        docs = batch_df.localCheckpoint(eager=True).select(
            "doc_id",
            "source",
            F.size(F.split("text", " ", -1)).cast("long").alias("n_toks"),
        )
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = docs.withColumn("cum_batch", F.sum("n_toks").over(w))
        have_totals = _index_exists(s, totals_dir)
        if have_totals:
            # Read WITH the piece partition column and drop the
            # current batch's own piece: a crashed attempt may have
            # written totals piece=<batch_id> before the checkpoint
            # commit, and summing it here would double-count this
            # batch's tokens on replay.
            prior = (
                s.read.schema(totals_schema + ", piece BIGINT")
                .parquet(totals_dir)
                .filter(F.col("piece") != batch_id)
                .groupBy("source")
                .agg(F.sum("toks").alias("prior"))
            )
            cum = cum.join(F.broadcast(prior), "source", "left")
        else:
            cum = cum.withColumn("prior", F.lit(None).cast("long"))
        admitted = cum.filter(
            F.col("cum_batch") + F.coalesce("prior", F.lit(0)) <= budget
        ).select("doc_id", "source", "n_toks")
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/piece={batch_id}"
        )
        docs.groupBy("source").agg(
            F.sum("n_toks").cast("long").alias("toks")
        ).write.mode("overwrite").parquet(
            f"{totals_dir}/piece={batch_id}"
        )

    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_docs_idordered_stage_dir(sf_dir))
    )
    q = (
        raw.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema("doc_id BIGINT, source STRING, n_toks BIGINT")
        .parquet(out_dir)
        .select("doc_id", "source", "n_toks")
    )


def domain_quota_stream(
    spark: SparkSession,
    sf_dir: str,
    domain_cap: int = 800,
    global_budget: int = 10000,
) -> DataFrame:
    """Streaming TWO-LEVEL quota admission — the streaming face of
    ``domain_quota_curation``: id-ordered microbatches admit a doc
    when (1) its DOMAIN's cumulative arrived tokens (standing
    per-source totals + in-batch prefix) stay within ``domain_cap``,
    and (2) the GLOBAL cumulative LEVEL-1-SURVIVOR tokens (standing
    dom-arrived total + in-batch prefix over level-1 survivors) stay
    within ``global_budget``.  The global meter charges every doc
    that passed its domain cap — including docs the budget then
    rejects — exactly the batch oracle's ``sum OVER dom`` running
    sum; a doc rejected by its DOMAIN never reaches the meter.
    (Summing only ADMITTED tokens here diverges the moment the
    budget first binds in a non-final batch: later batches would
    re-admit docs the batch greedy rejects.)

    State is ONE totals table with per-source (arrived, dom_arrived,
    admitted) sums appended per batch; prior reads EXCLUDE the
    current batch's own piece (``piece != batch_id``) — the
    accumulating-sum replay-idempotency rule ``token_budget_stream``
    pins.  The global prior rides a 1-row broadcast aggregate (the
    scalar-broadcast idiom), never a collect.

    Scale shape: per batch, one window per source over the batch's
    own rows, one batch-bounded global prefix (maxFilesPerTrigger
    bounds the batch — the stream's own back-pressure is what makes
    the per-batch global window safe), and a broadcast-sized totals
    join; history is never re-read."""
    import os

    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    root = keyed_dir(
        "domquota", src, extra=f"{domain_cap}:{global_budget}"
    )
    out_dir = os.path.join(root, "out")
    totals_dir = os.path.join(root, "totals")
    ckpt = os.path.join(root, "ckpt")
    totals_schema = (
        "source STRING, arrived BIGINT, dom_arrived BIGINT, "
        "admitted BIGINT"
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        s = batch_df.sparkSession
        docs = batch_df.localCheckpoint(eager=True).select(
            "doc_id",
            "source",
            F.size(F.split("text", " ", -1)).cast("long").alias("n_toks"),
        )
        wsrc = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = docs.withColumn("cum_src", F.sum("n_toks").over(wsrc))
        have_totals = _index_exists(s, totals_dir)
        if have_totals:
            pr = (
                s.read.schema(totals_schema + ", piece BIGINT")
                .parquet(totals_dir)
                .filter(F.col("piece") != batch_id)
            )
            psrc = pr.groupBy("source").agg(
                F.sum("arrived").alias("p_arr")
            )
            # Global prior = cross-batch LEVEL-1-SURVIVOR tokens, not
            # admitted tokens: the oracle's cum_all runs over every
            # dom survivor, so budget-rejected docs still consume it.
            gprior = pr.agg(
                F.coalesce(F.sum("dom_arrived"), F.lit(0)).alias("g_dom")
            )
            cum = cum.join(F.broadcast(psrc), "source", "left")
        else:
            gprior = s.range(1).select(
                F.lit(0).cast("long").alias("g_dom")
            )
            cum = cum.withColumn("p_arr", F.lit(None).cast("long"))
        dom = cum.filter(
            F.col("cum_src") + F.coalesce("p_arr", F.lit(0)) <= domain_cap
        ).localCheckpoint(eager=True)
        wg = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        admitted = (
            dom.withColumn("cum_all", F.sum("n_toks").over(wg))
            .crossJoin(F.broadcast(gprior))
            .filter(F.col("cum_all") + F.col("g_dom") <= global_budget)
            .select("doc_id", "source", "n_toks")
        )
        admitted = admitted.localCheckpoint(eager=True)
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/piece={batch_id}"
        )
        arr = docs.groupBy("source").agg(
            F.sum("n_toks").cast("long").alias("arrived")
        )
        dom_arr = dom.groupBy("source").agg(
            F.sum("n_toks").cast("long").alias("dom_arrived")
        )
        adm = admitted.groupBy("source").agg(
            F.sum("n_toks").cast("long").alias("admitted")
        )
        arr.join(dom_arr, "source", "left").join(
            adm, "source", "left"
        ).select(
            "source",
            "arrived",
            F.coalesce("dom_arrived", F.lit(0))
            .cast("long")
            .alias("dom_arrived"),
            F.coalesce("admitted", F.lit(0)).cast("long").alias("admitted"),
        ).write.mode("overwrite").parquet(
            f"{totals_dir}/piece={batch_id}"
        )

    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_docs_idordered_stage_dir(sf_dir))
    )
    q = (
        raw.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema("doc_id BIGINT, source STRING, n_toks BIGINT")
        .parquet(out_dir)
        .select("doc_id", "source", "n_toks")
    )

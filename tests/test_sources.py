"""Source/sink coverage (SURVEY.md §2.C row C1): csv/json/text
readers round-trip, partitioned parquet writes, input_file_name."""

from __future__ import annotations

import pyspark.sql.functions as F

from distributed_system_spark.sources.tables import load_table


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a,b", 1.5), (2, None, -0.25)], "id bigint, s string, x double"
    )
    path = str(tmp_path / "csv")
    df.write.option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .schema("id bigint, s string, x double")
        .csv(path)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, {"k": "v"}), (2, {"k": None})], "id bigint, m map<string,string>"
    )
    path = str(tmp_path / "json")
    df.write.json(path)
    back = spark.read.schema("id bigint, m map<string,string>").json(path)
    assert back.count() == 2
    assert back.filter(F.col("m")["k"] == "v").count() == 1


def test_text_roundtrip(spark, tmp_path):
    lines = ["first line", "second  line", ""]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    path = str(tmp_path / "text")
    df.write.text(path)
    back = spark.read.text(path)
    assert sorted(r["value"] for r in back.collect()) == sorted(lines)


def test_partitioned_parquet_write_prunes(spark, tmp_path):
    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("int"))
    path = str(tmp_path / "pq")
    df.write.partitionBy("part").parquet(path)
    one = spark.read.parquet(path).filter(F.col("part") == 2)
    assert one.count() == 25
    # partition pruning must reach the scan
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_input_file_name_recovers_split(spark, sf_dir):
    """A1/B7: the filename is recoverable per row (the reference keys
    juice work on the intermediate file name, mj_worker.cpp:314)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "src_file", F.input_file_name()
    )
    n_files = docs.select("src_file").distinct().count()
    assert n_files >= 1
    assert docs.filter(F.col("src_file").contains("documents.parquet")).count() == docs.count()


def test_overwrite_vs_append_modes(spark, tmp_path):
    """A14/A15: put=overwrite resets, append adds (piece semantics)."""
    path = str(tmp_path / "modes")
    spark.range(5).write.parquet(path)
    spark.range(5).write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == 10
    spark.range(3).write.mode("overwrite").parquet(path)
    assert spark.read.parquet(path).count() == 3


def test_observe_metrics_account_for_rows(spark, sf_dir):
    """df.observe(): task-side metric accumulation during a real
    action — the zero-cost row/byte accounting a 100 TB pipeline
    attaches to every stage (the reference's FILE_DONE progress
    counters, mj_master.cpp:199-232, were driver-polled; Spark rolls
    them up with the job)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from distributed_system_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum((F.col("l_quantity") > 25).cast("long")).alias("big_qty"),
    )
    kept = observed.filter(F.col("l_quantity") > 25).count()
    assert obs.get["rows_seen"] == li.count()
    assert obs.get["big_qty"] == kept


def test_canonical_event_time_both_generations(spark, tmp_path):
    """Dual events-schema contract: the driver has shipped
    events.parquet with ts as TIMESTAMP(NANOS) (read as bigint under
    nanosAsLong) and as TIMESTAMP(MICROS)/ntz. canonical_event_time
    must normalize BOTH shapes — batch and stream — to identical
    (ts_ns, ts) output. This is the regression test for the r3
    snapshot break (one call site left on the old bigint conversion)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_system_spark.sources.tables import canonical_event_time
    from distributed_system_spark.streaming.streams import (
        events_stream_schema,
    )

    base_us = 1_712_000_000_000_000
    ids = [1, 2, 3]
    us_vals = [base_us + k * 7_000_000 for k in ids]

    def write(dirname, ts_arr):
        d = str(tmp_path / dirname)
        os.makedirs(d)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, type=pa.int64()),
                    "ts": ts_arr,
                    "user_id": pa.array([1, 1, 2], type=pa.int64()),
                    "event_type": ["view", "click", "view"],
                    "value": [1.0, 2.0, 3.0],
                    "props": ["{}", "{}", "{}"],
                }
            ),
            f"{d}/part-000.parquet",
        )
        return d

    d_ns = write(
        "gen-ns",
        pa.array([v * 1000 for v in us_vals], type=pa.timestamp("ns")),
    )
    d_us = write("gen-us", pa.array(us_vals, type=pa.timestamp("us")))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def batch_rows(d):
        out = canonical_event_time(spark.read.parquet(d))
        return sorted(
            (r["event_id"], r["ts_ns"], r["ts"])
            for r in out.select("event_id", "ts_ns", "ts").collect()
        )

    def stream_rows(d):
        src = f"{d}/part-000.parquet"
        raw = spark.readStream.schema(events_stream_schema(src)).parquet(d)
        out = canonical_event_time(raw)
        q = (
            out.select("event_id", "ts_ns", "ts")
            .writeStream.format("memory")
            .queryName(f"gen_sink_{os.path.basename(d).replace('-', '_')}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        tbl = spark.table(q.name)
        return sorted(
            (r["event_id"], r["ts_ns"], r["ts"]) for r in tbl.collect()
        )

    want = [(k, v * 1000, None) for k, v in zip(ids, us_vals)]
    got_ns, got_us = batch_rows(d_ns), batch_rows(d_us)
    assert got_ns == got_us
    assert [(a, b) for a, b, _ in got_ns] == [(a, b) for a, b, _ in want]
    s_ns, s_us = stream_rows(d_ns), stream_rows(d_us)
    assert s_ns == s_us == got_ns


def test_parquet_codec_roundtrip_and_size(spark, tmp_path):
    """C1 ops knob: per-write compression codec selection round-trips
    and actually compresses (zstd < uncompressed on repetitive data) —
    at 100 TB the codec choice is a first-order storage/scan-cost
    decision."""
    import os

    df = spark.range(50_000).withColumn(
        "s", F.concat(F.lit("row-payload-"), (F.col("id") % 7).cast("string"))
    )

    def write(codec):
        path = str(tmp_path / codec)
        df.write.option("compression", codec).parquet(path)
        size = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        back = spark.read.parquet(path)
        assert back.count() == 50_000
        return size

    sizes = {c: write(c) for c in ("none", "snappy", "zstd")}
    assert sizes["zstd"] < sizes["none"], sizes
    assert sizes["snappy"] < sizes["none"], sizes


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink + source round-trip (the columnar alternative to
    parquet Spark ships natively), including a pushed filter — lineitem
    subset written as ORC must read back identically and the predicate
    must reach the ORC scan."""
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "orc")
    li.write.orc(path)
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, li.collect())
    )
    plan = (
        back.filter(F.col("l_returnflag") == "R")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_binaryfile_source_reads_media_blobs(spark, tmp_path):
    """C1: Spark's binaryFile source is the multimodal ingestion entry
    point — opaque media blobs land as (path, modificationTime,
    length, content) rows ready for the mapInPandas decode stage.
    Round-trip: bytes written == content read, glob filter prunes
    non-matching extensions at the listing."""
    d = tmp_path / "media"
    d.mkdir()
    blobs = {
        "a.bin": b"\x00\x01\x02frame-like-bytes",
        "b.bin": b"P6 fake-ppm-payload",
    }
    for name, data in blobs.items():
        (d / name).write_bytes(data)
    (d / "ignore.txt").write_text("not media")

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(d))
    )
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(blobs)
    for name, data in blobs.items():
        assert bytes(rows[name].content) == data
        assert rows[name].length == len(data)


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """C1 sink semantics: dynamic partitionOverwriteMode rewrites ONLY
    the partitions present in the incoming batch — the idempotent
    daily-reprocess pattern (static mode would wipe the whole table)."""
    out = str(tmp_path / "dyn")
    base = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 3)], "day string, v int"
    )
    base.write.partitionBy("day").mode("overwrite").parquet(out)

    redo = spark.createDataFrame([("d2", 99)], "day string, v int")
    (
        redo.write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out)
    )
    got = {
        (r.day, r.v) for r in spark.read.parquet(out).collect()
    }
    # d1 rows survive; d2 fully replaced by the reprocessed batch
    assert got == {("d1", 1), ("d1", 2), ("d2", 99)}


def test_corrupt_json_records_permissive_vs_failfast(spark, tmp_path):
    """C1 robustness: PERMISSIVE mode quarantines malformed JSON rows
    into the corrupt-record column (the 100 TB reality — a bad row
    must not kill the job), FAILFAST surfaces them as errors."""
    import pytest
    from py4j.protocol import Py4JJavaError

    p = tmp_path / "rows.json"
    p.write_text('{"a": 1}\n{"a": broken\n{"a": 3}\n')
    schema = "a BIGINT, _corrupt_record STRING"

    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {r.a for r in rows if r._corrupt_record is None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {1, 3}
    assert len(bad) == 1 and "broken" in bad[0]._corrupt_record

    strict = (
        spark.read.schema("a BIGINT")
        .option("mode", "FAILFAST")
        .json(str(p))
    )
    with pytest.raises(Py4JJavaError):
        strict.collect()


def test_load_table_reuses_schema_until_file_changes(
    spark, tmp_path, count_jobs
):
    """load_table remembers a local file's inferred schema: a second
    load of the unchanged file launches no job, and a rewrite at the
    same path with a different schema is read with the new one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}), path)
    first = load_table(spark, str(tmp_path), "orders")
    assert first.columns == ["o_orderkey"]
    assert count_jobs(lambda: load_table(spark, str(tmp_path), "orders")) == 0

    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([3], pa.int32()),
                "o_comment": pa.array(["new"]),
            }
        ),
        path,
    )
    again = load_table(spark, str(tmp_path), "orders")
    assert again.schema == spark.read.parquet(str(path)).schema
    assert [tuple(r) for r in again.collect()] == [(3, "new")]


def test_load_events_types_ts_per_nanos_conf(spark, tmp_path):
    """A schema remembered under nanosAsLong=true (ts as bigint) is not
    reused once the conf changes: the read then fails as Spark's own
    inference does, instead of silently reading nanos as longs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    from distributed_system_spark.sources.tables import (
        load_events,
        read_parquet,
        table_path,
    )

    path = table_path(str(tmp_path), "events")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([5_000, 9_000], pa.timestamp("ns")),
            }
        ),
        path,
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)
    try:
        ev = load_events(spark, str(tmp_path))
        assert dict(ev.dtypes)["ts_ns"] == "bigint"
        assert sorted(r["ts_ns"] for r in ev.collect()) == [5_000, 9_000]
        spark.conf.set(conf, "false")
        with pytest.raises(AnalysisException):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException):
            read_parquet(spark, path)
        ev = load_events(spark, str(tmp_path))  # sets the conf again
        assert dict(ev.dtypes)["ts_ns"] == "bigint"
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)

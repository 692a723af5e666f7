"""DatasetStore semantics — ported from the reference's SDFS tests
(tests/mock_sdfs_client.cpp): put/get, 10x append ordering, put
resets pieces, delete, metadata, idempotent rewrite (A5)."""

from __future__ import annotations

import pytest

from distributed_system_spark.sources.store import DatasetStore


@pytest.fixture(params=["plain", "file_uri"])
def store(spark, tmp_path, request):
    """Same suite twice: POSIX-style path and explicit file:/ URI —
    catalog ops go through the Hadoop FileSystem API either way, so
    the URI run proves the hdfs://-shaped call path."""
    root = str(tmp_path / "store")
    if request.param == "file_uri":
        root = f"file://{root}"
    return DatasetStore(spark, root, fmt="text")


def _local(p: str) -> str:
    """Local filesystem view of a store path (for os.* assertions)."""
    return p.removeprefix("file://").removeprefix("file:")


def _text_df(spark, *lines):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def test_put_get_roundtrip(store, spark):
    store.put(_text_df(spark, "hello", "world"), "d/f")
    assert sorted(r["value"] for r in store.get("d/f").collect()) == [
        "hello",
        "world",
    ]


def test_ten_appends_concatenate(store, spark):
    """tests/mock_sdfs_client.cpp:86-102 — append 0..9, read back all."""
    store.put(_text_df(spark, "0"), "d/f")
    for i in range(1, 10):
        store.append(_text_df(spark, str(i)), "d/f")
    got = sorted(r["value"] for r in store.get("d/f").collect())
    assert got == [str(i) for i in range(10)]
    assert store.get_num_shards("d/f") == 10


def test_put_resets_pieces(store, spark):
    store.put(_text_df(spark, "a"), "f")
    store.append(_text_df(spark, "b"), "f")
    assert store.get_num_shards("f") == 2
    store.put(_text_df(spark, "c"), "f")  # put resets to 1 piece
    assert store.get_num_shards("f") == 1
    assert [r["value"] for r in store.get("f").collect()] == ["c"]


def test_shards_count_ops_not_part_files(store, spark):
    """VERDICT r1: 1 put + 1 append must be 2 shards even when Spark
    emits multiple part files per write."""
    many = _text_df(spark, *[str(i) for i in range(20)]).repartition(4)
    store.put(many, "f")
    store.append(many, "f")
    assert store.get_num_shards("f") == 2


def test_idempotent_rewrite(store, spark):
    """A5 analog: overwriting with the same content is a no-op in
    content terms (committer semantics, not double-append)."""
    df = _text_df(spark, "x", "y")
    store.put(df, "f")
    store.put(df, "f")
    assert sorted(r["value"] for r in store.get("f").collect()) == ["x", "y"]
    assert store.get_num_shards("f") == 1


def test_delete_and_exists(store, spark):
    store.put(_text_df(spark, "a"), "d/f")
    assert store.exists("d/f")
    store.delete("d/f")
    assert not store.exists("d/f")


def test_ls_files_and_dirs(store, spark):
    store.put(_text_df(spark, "a"), "dir1/fileA")
    store.put(_text_df(spark, "b"), "dir1/fileB")
    store.mkdir("dir1/sub")
    assert store.ls_files("dir1") == ["fileA", "fileB"]
    assert store.ls_dirs("dir1") == ["sub"]


def test_metadata_merge(store, spark):
    store.put(_text_df(spark, "a"), "f", metadata={"k1": "v1"})
    store.append(_text_df(spark, "b"), "f", metadata={"k2": "v2"})
    assert store.get_metadata("f") == {"k1": "v1", "k2": "v2"}


def test_path_escape_rejected(store):
    with pytest.raises(ValueError):
        store.exists("../outside")


def test_compact_merges_pieces_and_preserves_rows(spark, tmp_path):
    """compact(): N appends leave many part files; compaction coalesces
    them to one, preserves every row and the metadata, and resets the
    piece count to 1 (the put-after-appends semantics)."""
    from distributed_system_spark.sources.store import DatasetStore

    store = DatasetStore(spark, str(tmp_path / "store"))
    df = spark.range(100).withColumnRenamed("id", "v")
    store.put(df, "data/t", metadata={"owner": "tests"})
    for _ in range(4):
        store.append(df, "data/t")
    assert store.get_num_shards("data/t") == 5
    before_rows = store.get("data/t").count()
    n_files_before = store.compact("data/t")
    assert n_files_before >= 5
    assert store.get("data/t").count() == before_rows == 500
    assert store.get_num_shards("data/t") == 1
    assert store.get_metadata("data/t") == {"owner": "tests"}
    import glob
    parts = glob.glob(str(tmp_path / "store/data/t/*.parquet"))
    assert len(parts) == 1, parts


def test_compact_leftovers_invisible_to_listings(store, spark, tmp_path):
    """An interrupted compact strands <name>.compacting / <name>.old
    dirs; listings must not report them as datasets or dirs."""
    import os

    store.put(_text_df(spark, "a", "b"), "d/real")
    base = str(tmp_path / "store" / "d")
    for leftover in ("real.compacting", "real.old"):
        os.makedirs(os.path.join(base, leftover, "x"), exist_ok=True)
        open(os.path.join(base, leftover, "part-00000"), "w").close()
    assert store.ls_files("d") == ["real"]
    assert store.ls_dirs("d") == []


def test_compact_swap_keeps_dataset_present(store, spark):
    """After compact the dataset reads back identically and no *.old /
    *.compacting residue remains (rename-aside swap cleans up)."""
    import os

    store.put(_text_df(spark, "x"), "d/c")
    for i in range(3):
        store.append(_text_df(spark, f"r{i}"), "d/c")
    store.compact("d/c")
    got = sorted(r["value"] for r in store.get("d/c").collect())
    assert got == ["r0", "r1", "r2", "x"]
    parent = os.path.dirname(_local(store._abs("d/c")))
    assert not [n for n in os.listdir(parent) if n.endswith((".old", ".compacting"))]


def test_get_del_event_callbacks_streamed(store, spark):
    """A-row closure: on_get/on_del analogs (mock_sdfs_master.cpp:
    35-111).  Ops write one event file each; a watched-key stream over
    the log delivers exactly the matching callbacks."""
    from distributed_system_spark.streaming.store_events import (
        store_event_stream,
        store_events_batch,
    )
    from distributed_system_spark.streaming.streams import run_available_now

    store.put(_text_df(spark, "a"), "d/watched", metadata={"team": "ml"})
    store.put(_text_df(spark, "b"), "d/other", metadata={"owner": "ops"})
    store.get("d/watched")
    store.get("d/other")
    store.delete("d/watched")

    # watched-key subscription: only 'team'-tagged files fire
    got = run_available_now(
        store_event_stream(
            spark,
            store.events_path(),
            ops=["get", "del"],
            watched_keys=["team"],
        ),
        "store_cb_events",
        output_mode="append",
    ).collect()
    fired = sorted((r["op"], r["path"]) for r in got)
    assert fired == [("del", "d/watched"), ("get", "d/watched")]
    assert all(r["metadata"]["team"] == "ml" for r in got)

    # full batch audit view sees every op type
    ops = {
        r["op"]
        for r in store_events_batch(spark, store.events_path()).collect()
    }
    assert {"put", "get", "del"} <= ops


def test_append_event_carries_piece_index(store, spark):
    """Reference append callbacks receive index = num_pieces - 1."""
    from distributed_system_spark.streaming.store_events import (
        store_events_batch,
    )

    store.put(_text_df(spark, "x"), "d/p")
    store.append(_text_df(spark, "y"), "d/p")
    store.append(_text_df(spark, "z"), "d/p")
    pieces = sorted(
        r["piece"]
        for r in store_events_batch(
            spark, store.events_path(), ops=["append"]
        ).collect()
    )
    assert pieces == [1, 2]


def test_key_escaping_reference_parity(store, spark):
    """sdfs.cpp:34-48 convert_path parity: arbitrary string keys
    (spaces, slashes, percents — anything a MapleJuice exe can emit)
    escape to one filesystem-safe component, round-trip through
    put/get/ls/delete, and unescape back to the original key."""
    from distributed_system_spark.sources.store import (
        escape_key,
        unescape_key,
    )

    keys = [
        "plain",
        "has space",
        "a/b/c",
        "100%",
        "%|already%%escaped",
        "mix /of% every thing/",
    ]
    # escape is injective on this set and always slash-free
    names = [escape_key(k) for k in keys]
    assert len(set(names)) == len(keys)
    for k, n in zip(keys, names):
        assert "/" not in n
        assert unescape_key(n) == k

    for k in keys:
        name = f"keyed/{escape_key(k)}"
        store.put(_text_df(spark, f"v:{k}"), name)
        got = [r["value"] for r in store.get(name).collect()]
        assert got == [f"v:{k}"], (k, got)
    listed = store.ls_files("keyed")
    assert sorted(unescape_key(n) for n in listed) == sorted(keys)
    for k in keys:
        store.delete(f"keyed/{escape_key(k)}")
    assert store.ls_files("keyed") == []


def _typed_frame(spark, ids):
    """Non-null columns of every type the parquet writer maps
    specially: decimals, dates, both timestamp kinds, binary, and
    nested array/map/struct values."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DateType,
        DecimalType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("i", IntegerType(), False),
            StructField("l", LongType(), False),
            StructField("d", DecimalType(12, 2), False),
            StructField("day", DateType(), False),
            StructField("ts", TimestampType(), False),
            StructField("ntz", TimestampNTZType(), False),
            StructField("b", BinaryType(), False),
            StructField("s", StringType(), False),
            StructField("arr", ArrayType(IntegerType(), False), False),
            StructField(
                "m", MapType(StringType(), LongType(), False), False
            ),
            StructField(
                "st",
                StructType(
                    [
                        StructField("x", IntegerType(), False),
                        StructField("y", ArrayType(StringType(), False), False),
                    ]
                ),
                False,
            ),
        ]
    )
    base = dt.datetime(2024, 3, 1, 12, 30, 15, 123456)
    rows = [
        (
            k,
            k * 10**10,
            Decimal(f"{k}.25"),
            dt.date(2024, 1, 1) + dt.timedelta(days=k),
            base + dt.timedelta(seconds=k),
            base + dt.timedelta(minutes=k),
            bytes([k % 256, 7]),
            f"s{k}",
            [k, k + 1],
            {f"k{k}": k},
            (k, [f"y{k}"]),
        )
        for k in ids
    ]
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return df.orderBy("i").collect()


def test_recorded_schema_matches_spark_inference(spark, tmp_path):
    """put records the on-disk schema, an append of the same schema
    keeps it, and get reads with it: same schema and rows as Spark's
    own inferred read of the directory, through compact too."""
    store = DatasetStore(spark, str(tmp_path / "store"))
    store.put(_typed_frame(spark, range(0, 5)), "t")
    store.append(_typed_frame(spark, range(5, 9)), "t")
    inferred = spark.read.parquet(str(tmp_path / "store" / "t"))
    assert store._read_sidecar("t")["schema"] == inferred.schema.jsonValue()
    got = store.get("t")
    assert got.schema == inferred.schema
    assert _rows(got) == _rows(inferred)
    assert len(_rows(got)) == 9

    store.compact("t")
    inferred = spark.read.parquet(str(tmp_path / "store" / "t"))
    assert store._read_sidecar("t")["schema"] == inferred.schema.jsonValue()
    assert store.get("t").schema == inferred.schema
    assert _rows(store.get("t")) == _rows(inferred)


def test_schema_changing_append_falls_back_to_inference(spark, tmp_path):
    """An append whose on-disk schema differs drops the recorded one,
    so get reads exactly as Spark's inference does."""
    store = DatasetStore(spark, str(tmp_path / "store"))
    base = spark.range(4).selectExpr("id", "id * 2 AS v")
    store.put(base, "t")
    store.append(base.selectExpr("id", "v", "'x' AS extra"), "t")
    assert "schema" not in store._read_sidecar("t")
    inferred = spark.read.parquet(str(tmp_path / "store" / "t"))
    got = store.get("t")
    assert got.schema == inferred.schema
    order = got.columns
    assert got.orderBy(*order).collect() == inferred.orderBy(*order).collect()


def test_reads_without_recorded_schema_unchanged(spark, tmp_path):
    """A dataset written around the store (no sidecar) and a text
    store's datasets read as Spark reads them."""
    store = DatasetStore(spark, str(tmp_path / "store"))
    foreign = str(tmp_path / "store" / "foreign")
    spark.range(3).write.parquet(foreign)
    assert store._read_sidecar("foreign") == {}
    assert store.get("foreign").schema == spark.read.parquet(foreign).schema
    assert sorted(store.get("foreign").collect()) == sorted(
        spark.read.parquet(foreign).collect()
    )

    text = DatasetStore(spark, str(tmp_path / "text"), fmt="text")
    text.put(_text_df(spark, "a", "b"), "f")
    text.append(_text_df(spark, "c"), "f")
    assert "schema" not in text._read_sidecar("f")
    assert text.get("f").schema == spark.read.text(
        str(tmp_path / "text" / "f")
    ).schema
    assert sorted(r["value"] for r in text.get("f").collect()) == [
        "a",
        "b",
        "c",
    ]


def test_get_with_recorded_schema_launches_no_job(spark, tmp_path, count_jobs):
    """get hands the recorded schema to the reader, so building the
    frame runs no schema-inference job; a dataset without one still
    does (the control that shows the count can see that job)."""
    store = DatasetStore(spark, str(tmp_path / "store"))
    store.put(spark.range(10), "t")
    assert count_jobs(lambda: store.get("t")) == 0
    spark.range(10).write.parquet(str(tmp_path / "store" / "foreign"))
    assert count_jobs(lambda: store.get("foreign")) >= 1

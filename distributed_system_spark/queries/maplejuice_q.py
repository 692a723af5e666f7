"""MapleJuice operator queries: word count through the maple→juice
fidelity layer, and the exe-fidelity line pipe.

``mj_wordcount`` must equal the direct DataFrame ``wordcount`` —
the same invariant the reference's golden-output E2E asserts
(tests/maplejuice.cpp:249-255) — so both share one oracle.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from distributed_system_spark.functions.wordcount import split_lines
from distributed_system_spark.operators.maplejuice import (
    juice,
    maple,
    partition_by_hash,
    pipe_lines,
)
from distributed_system_spark.queries import register
from distributed_system_spark.queries.wordcount_q import WORDCOUNT_ORACLE
from distributed_system_spark.scratch import fresh_dir
from distributed_system_spark.sources.tables import (
    WIDEN_SLOT_BYTES_DENSE,
    load_table,
    widen_if_narrow,
)

# Python-side mirrors of wc_maple.cpp:9-44 (see functions/wordcount.py
# for the Column-expression versions and the semantics rationale).
_SEP_RE = re.compile("[ \t\r\x0b\f]")
_SAN_RE = re.compile("[^0-9a-zA-Z]")


def _tokenize(line: str) -> list[str]:
    toks = _SEP_RE.split(line)
    if toks and toks[-1] == "":
        toks.pop()
    return toks


def wc_maple_fn(lines: Iterable[str]) -> Iterator[tuple[str, str]]:
    """Per-batch word count with map-side combine + sorted emission
    (B3/B4, wc_maple.cpp:24-49)."""
    counts: Counter[str] = Counter()
    for line in lines:
        for tok in _tokenize(line):
            counts[_SAN_RE.sub("", tok)] += 1
    for word in sorted(counts):
        yield word, str(counts[word])


def wc_juice_fn(key: str, values: list[str]) -> Iterator[tuple[str, str]]:
    """Sum integer partials, skipping unparseable tokens (B5/B6,
    wc_juice.cpp:20-39's try/catch stoi)."""
    total = 0
    for v in values:
        try:
            total += int(v)
        except ValueError:
            pass
    yield key, str(total)


def doc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line frame for the maple/exe paths; widened so the Python maple
    stage gets one task per core on single-row-group test files
    (widen_if_narrow is a no-op on real multi-split layouts)."""
    docs = widen_if_narrow(
        load_table(spark, sf_dir, "documents"),
        min_slot_bytes=WIDEN_SLOT_BYTES_DENSE,
    )
    return docs.select(F.explode(split_lines("text")).alias("line"))


@register("mj_wordcount", oracle=WORDCOUNT_ORACLE, tags=("A3", "A6", "A8"))
def mj_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through maple → hash partition → juice; must equal
    the direct-DataFrame ``wordcount`` bit for bit."""
    kv = maple(doc_lines(spark, sf_dir), wc_maple_fn)
    reduced = juice(partition_by_hash(kv, 32, "key"), wc_juice_fn)
    return reduced.select(
        F.col("key").alias("word"), F.col("value").cast("bigint").alias("cnt")
    ).orderBy("word")


@register(
    "pipe_tokens",
    oracle="""
WITH lines0 AS (
  SELECT str_split(text, chr(10)) AS ls FROM documents
), lines AS (
  SELECT unnest(CASE WHEN len(ls) > 0 AND ls[len(ls)] = ''
                THEN list_slice(ls, 1, len(ls) - 1) ELSE ls END) AS line
  FROM lines0
), toks AS (
  SELECT unnest(str_split(line, ' ')) AS tok FROM lines
)
SELECT tok, count(*) AS cnt
FROM toks
GROUP BY tok
ORDER BY tok
""",
    tags=("A21",),
)
def pipe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exe-fidelity path: stream document lines through ``tr ' ' '\\n'``
    (one token per output line, exactly what an external tokenizer exe
    would emit through run_command, mj_worker.cpp:452-491), then count.
    """
    toks = pipe_lines(doc_lines(spark, sf_dir), "tr ' ' '\\n'")
    return (
        toks.groupBy(F.col("line").alias("tok"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("tok")
    )


@register(
    "kv_format_scan",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
)
SELECT tok AS word, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY tok
""",
    tags=("C1", "A15", "kv"),
)
def kv_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end round trip through the reference's native KV wire
    format as a REGISTERED Spark source/sink (Python DataSource API,
    sources/kv_datasource.py): the document tokens are written out as
    ``"<token> <doc_id>"`` piece files (one piece per writer task —
    the per-worker shard append of mj_worker.cpp:360-387), then read
    back with one InputPartition per piece and aggregated.  The oracle
    computes the same aggregate straight from the documents table, so
    a parse/encode asymmetry anywhere in the format breaks the hash.

    At 100 TB: the format carries no schema or stats, so unlike
    parquet there is no pushdown — the honest trade of wire-format
    parity; parallelism scales with piece count and the writer's
    temp+rename publish keeps failed tasks invisible (A5).
    """
    from distributed_system_spark.sources.kv_datasource import (
        register_kv_datasource,
    )

    register_kv_datasource(spark)
    docs = load_table(spark, sf_dir, "documents")
    kv = docs.select(
        F.explode(F.split("text", " ", -1)).alias("key"),
        F.col("doc_id").cast("string").alias("value"),
    )
    # a fresh dir per build: the returned lazy frame reads it
    path = fresh_dir("kvds")
    kv.repartition(8).write.format("kvpieces").mode("overwrite").option(
        "path", path
    ).save()
    back = spark.read.format("kvpieces").option("path", path).load()
    return back.groupBy(F.col("key").alias("word")).agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("value").alias("n_docs"),
    )

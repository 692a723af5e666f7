"""Named query registry driving ``__spark_entry__.queries()``.

Each registered query is the Spark-first implementation of one
operator (or operator family) from SURVEY.md §2, paired — where the
semantics are SQL-expressible — with an ANSI-SQL oracle that DuckDB
runs on the same parquet tables.  The driver compares row count,
schema, and an order-insensitive value hash, so every computed column
is aliased identically on both sides and float aggregates are rounded
to a fixed scale on both sides.

The reference's own correctness strategy is the same idea: golden
outputs diffed order-insensitively after an external ``sort``
(tests/maplejuice.cpp:249-255).
"""

from __future__ import annotations

import importlib
import itertools
import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One registered query: Spark implementation + optional oracle."""

    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}

# Submodules that self-register queries on import.
_MODULES = (
    "distributed_system_spark.queries.wordcount_q",
    "distributed_system_spark.queries.relational",
    "distributed_system_spark.queries.analytics",
    "distributed_system_spark.queries.tpch2",
    "distributed_system_spark.queries.joins",
    "distributed_system_spark.queries.windows",
    "distributed_system_spark.queries.scalars",
    "distributed_system_spark.queries.maplejuice_q",
    "distributed_system_spark.queries.dedup_q",
    "distributed_system_spark.queries.similarity_q",
    "distributed_system_spark.queries.text_q",
    "distributed_system_spark.queries.multimodal_q",
    "distributed_system_spark.queries.streaming_q",
    "distributed_system_spark.queries.timeseries",
    "distributed_system_spark.queries.behavior",
    "distributed_system_spark.queries.udf_q",
    "distributed_system_spark.queries.retrieval_q",
    "distributed_system_spark.queries.quality_q",
    "distributed_system_spark.queries.drift_q",
)


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module (idempotent) and return the registry
    in verification order: a consumer that checks only a prefix, like
    the external harness's 50-query oracle window, checks first the
    queries verified least recently, or not since their plan last
    changed (:func:`verification_order`)."""
    for mod in _MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as exc:
            # Only tolerate a missing *registry* module (not yet built);
            # a missing third-party dep inside one should surface.
            if mod.rsplit(".", 1)[-1] not in str(exc):
                raise
    return verification_order(REGISTRY)


ROOT = Path(__file__).resolve().parents[2]
FINGERPRINTS = Path(__file__).with_name("fingerprints.json")


def verification_order(
    registry: dict[str, Query],
    root: Path = ROOT,
    fingerprints: Path = FINGERPRINTS,
) -> dict[str, Query]:
    """Queries with no green row since their ``since`` first, then the
    rest by ascending last green round; ties keep the round-robin of
    :func:`_interleaved`, so any prefix spans the query families.

    The harness leaves one ``CORRECTNESS_r<N>.json`` of per-query rows
    under ``root`` per round, so each round rotates the order by
    itself.  ``since`` (``fingerprints``: ``{name: [fp, since]}``,
    written by ``tools/explain.py --fingerprints``) is the newest round
    on disk when the query's plan last changed: rows checked against
    an older plan do not count."""
    fps = json.loads(fingerprints.read_text()) if fingerprints.exists() else {}
    since = {n: s for n, (_, s) in fps.items()}
    last = last_green_rounds(correctness_rounds(root), since)
    ordered = sorted(
        _interleaved(registry).values(), key=lambda q: last.get(q.name, 0)
    )
    return {q.name: q for q in ordered}


def correctness_rounds(root: Path = ROOT) -> dict[int, dict[str, dict]]:
    """``{N: rows}`` for every ``CORRECTNESS_r<N>.json`` under ``root``."""
    rounds = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            rounds[int(m.group(1))] = json.loads(path.read_text())
    return rounds


def is_green(row: dict) -> bool:
    """A harness row passed: rows, schema and value hash all match, or
    the query has no oracle and only its row count was recorded."""
    if row.get("err") == "no_oracle":
        return True
    keys = ("rows_match", "schema_match", "hash_match")
    return row.get("err") is None and all(row.get(k) is True for k in keys)


def last_green_rounds(
    rounds: dict[int, dict[str, dict]], since: dict[str, int]
) -> dict[str, int]:
    """Newest round N > ``since[name]`` (default 0) with a green row,
    per name that has one."""
    last: dict[str, int] = {}
    for n, rows in sorted(rounds.items()):
        for name, row in rows.items():
            if n > since.get(name, 0) and is_green(row):
                last[name] = n
    return last


def _interleaved(registry: dict[str, Query]) -> dict[str, Query]:
    """Round-robin the registry across source modules (stable within
    each module, deterministic across runs)."""
    by_module: dict[str, list[Query]] = {}
    for q in registry.values():
        by_module.setdefault(q.fn.__module__, []).append(q)
    lanes = [by_module[m] for m in sorted(by_module)]
    layers = itertools.zip_longest(*lanes)
    return {q.name: q for layer in layers for q in layer if q is not None}


def spark_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in load_all().items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: q.oracle for name, q in load_all().items() if q.oracle is not None
    }

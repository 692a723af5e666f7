"""Local correctness harness mimicking the driver's oracle compare.

Runs every registry query on Spark AND its DuckDB oracle at the given
sf dir, then compares row count, column names, and values after
sorting columns by name and rows by all columns — the same
order-insensitive philosophy as the driver (and as the reference's
sort-then-diff, tests/maplejuice.cpp:252).

Usage: python tools/check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from distributed_system_spark.queries import load_all  # noqa: E402
from distributed_system_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def values_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    # Strict dtype parity: a dtype-sensitive value hash (e.g. over raw
    # arrow buffers) would flag int32-vs-int64 even when values match.
    bad_dtypes = [
        (c, str(a[c].dtype), str(b[c].dtype))
        for c in a.columns
        if str(a[c].dtype) != str(b[c].dtype)
    ]
    if bad_dtypes:
        return False, f"dtype mismatch {bad_dtypes}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(
            bv.dtype, np.floating
        ):
            av = av.astype(float)
            bv = bv.astype(float)
            ok = np.array_equal(av, bv, equal_nan=True)
            if not ok:
                d = np.nanmax(np.abs(av - bv)) if len(av) else 0
                return False, f"col {c}: float mismatch, max abs diff {d}"
        else:
            if not (pd.isna(a[c]) == pd.isna(b[c])).all():
                return False, f"col {c}: null placement differs"
            mask = ~pd.isna(a[c])
            if not (a[c][mask] == b[c][mask]).all():
                idx = (a[c][mask] != b[c][mask]).idxmax()
                return (
                    False,
                    f"col {c}: value mismatch at row {idx}: "
                    f"{a[c][idx]!r} vs {b[c][idx]!r}",
                )
    return True, ""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    registry = load_all()
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark raised {type(exc).__name__}: {exc}")
            continue
        if q.oracle is None:
            n_rows_only += 1
            print(
                f"rows  {name}: {len(sdf)} rows (no oracle) "
                f"[{time.time() - t0:.1f}s]"
            )
            continue
        try:
            odf = con.execute(q.oracle).df()
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: duckdb raised {type(exc).__name__}: {exc}")
            continue
        ok, why = values_equal(canon(sdf), canon(odf))
        if ok:
            n_pass += 1
            print(f"ok    {name}: {len(sdf)} rows [{time.time() - t0:.1f}s]")
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: {why}")
    print(
        f"\n{n_pass} ok, {n_fail} fail, {n_rows_only} rows-only"
        + (f"; failing: {', '.join(failures)}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

"""Measure the PRODUCTION near-dup path across the scale decades.

``embedding_neardup`` (3 bits x 32 bands, threshold 0.4) is the
registry's deliberate full-recall contract demo and is superlinear by
that contract; the production path its docstring prescribes is
``lsh_neardup_pairs`` at a realistic dedup threshold (~0.95 cosine)
with 16-20 bits per band, where candidates are ~bands/2^bits of n^2.
This tool turns that claim from argued into measured.

The shipped synthetic corpus has ZERO pairs at cosine >= 0.95 (max
pairwise cosine 0.60 at sf0.1 — its near-dup structure lives at
0.4-0.6), so a recall number straight off the table would be
vacuous.  The tool therefore PLANTS truth: for a deterministic 2% of
ids it unions a perturbed copy (v + eps*g renormalized, g seeded by
id, eps in [0.15, 0.28] -> cosine 0.963-0.989), giving every corpus a
known >=0.95 pair population that scales with n.  Planting happens
distributed (mapInPandas), never via a driver round-trip, so the wall
measurement stays honest.  Reported per dir:

- wall clock timed as bench.py times (noop sink, warmup), warm
  best-of-3 at the small dirs, single run at the largest);
- RECALL vs the exact all-pairs answer on the augmented frame,
  computed blockwise in numpy (float64, rounded to the operator's
  1e-6 grain) — at 220 k rows that is ~2.4e10 dots, ~1 min of blas;
- candidate volume as a fraction of n^2 (the scale knob the
  docstring quotes).

Usage:
  python tools/neardup_decade.py [sf_dir ...]
  # default: /root/testdata/sf0.1 /tmp/dss-scale/sf1 /tmp/dss-scale/sf10

Prints one table row per dir plus a JSON line for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402

from distributed_system_spark.operators.similarity import (  # noqa: E402
    banded_lsh_buckets,
    lsh_neardup_pairs,
)
from distributed_system_spark.queries.similarity_q import _vecs  # noqa: E402
from distributed_system_spark.session import get_spark  # noqa: E402

THRESHOLD = 0.95
BANDS = 48


def bits_for(n: int) -> int:
    """Adaptive band width: candidates per band are ~n^2 / 2^bits, so
    pinning bits makes candidate volume QUADRATIC no matter how small
    the fraction looks (measured at 204 k vectors, bits frozen at 18:
    11.5x wall for 10x data, 9.4 M candidates).  Growing width with
    the corpus — bits = ceil(log2(n)) + 6, floored at the
    sf0.1-optimal 18 — caps expected candidates at ~(n/64)*bands,
    LINEAR by construction, while recall stays >= 0.999 for the
    >= 0.95-cosine regime (p_band = 0.93^24 ~= 0.17;
    miss = (1 - 0.17)^48 ~= 2e-4 per pair — and MEASURED recall on
    the planted corpus is 1.0000 at every width tried).  The sf10
    ladder, same corpus, same day: bits 18 -> 44.5 s / cand 4.5e-4
    of n^2; 21 -> 18.6 s / 7.7e-5; 24 -> 13.8 s / 1.5e-5; recall
    4000/4000 at all three.  Same design as _cell_bits for the
    signature cells: bucket count tracks corpus size so occupancy
    stays constant."""
    import math

    return max(18, math.ceil(math.log2(max(2, n))) + 6)


BEST_OF = 3
PLANT_EVERY = 50  # 2% of ids get a planted near-dup twin
DEFAULT_DIRS = (
    "/root/testdata/sf0.1",
    "/tmp/dss-scale/sf1",
    "/tmp/dss-scale/sf10",
)


def plant_neardups(vecs: DataFrame) -> DataFrame:
    """Base frame UNION a perturbed twin of ids % PLANT_EVERY == 0.

    Twin id = -(id + 1) (disjoint from the non-negative base ids);
    perturbation is seeded by id so the planted truth is a pure
    function of the corpus.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["id"] % PLANT_EVERY == 0]
            if len(keep) == 0:
                continue
            out_ids, out_vecs = [], []
            for vid, vec in zip(keep["id"], keep["vec"]):
                rng = np.random.default_rng(int(vid))
                v = np.asarray(vec, dtype=np.float64)
                v = v / np.linalg.norm(v)
                g = rng.standard_normal(v.shape)
                g = g / np.linalg.norm(g)
                eps = 0.15 + 0.13 * rng.random()
                w = v + eps * g
                w = w / np.linalg.norm(w)
                out_ids.append(-(int(vid) + 1))
                out_vecs.append(w)
            yield pd.DataFrame({"id": out_ids, "vec": out_vecs})

    twins = vecs.mapInPandas(gen, schema="id long, vec array<double>")
    return vecs.unionByName(twins)


def exact_pairs(
    ids: np.ndarray, mat: np.ndarray
) -> set[tuple[int, int]]:
    """All id pairs with rounded cosine >= THRESHOLD, blockwise."""
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    unit = mat / norms[:, None]
    n = mat.shape[0]
    out: set[tuple[int, int]] = set()
    block = max(1, min(4096, (1 << 28) // max(1, n)))
    for s in range(0, n, block):
        e = min(n, s + block)
        cos = np.round(unit[s:e] @ unit.T, 6)
        ii, jj = np.nonzero(cos >= THRESHOLD)
        for i, j in zip(ii + s, jj):
            a, b = int(ids[i]), int(ids[j])
            if a < b:
                out.add((a, b))
    return out


def main() -> int:
    dirs = sys.argv[1:] or list(DEFAULT_DIRS)
    spark = get_spark("neardup-decade")
    rows: dict[str, dict] = {}
    prev_wall: float | None = None
    for idx, d in enumerate(dirs):
        aug = plant_neardups(_vecs(spark, d))
        n_aug = aug.count()
        bits = bits_for(n_aug)

        def run() -> float:
            t0 = time.time()
            lsh_neardup_pairs(aug, THRESHOLD, bits, BANDS).write.format(
                "noop"
            ).mode("overwrite").save()
            return time.time() - t0

        run()  # warmup
        last = idx == len(dirs) - 1
        wall = run() if last else min(run() for _ in range(BEST_OF))

        collected = aug.select("id", "vec").collect()
        ids = np.array([r["id"] for r in collected])
        mat = np.array([r["vec"] for r in collected], dtype=np.float64)
        n = len(ids)

        cand = (
            banded_lsh_buckets(aug, bits, BANDS)
            .groupBy("band", "bucket")
            .count()
            .selectExpr("sum(count * (count - 1) / 2) AS pairs")
            .collect()[0]["pairs"]
            or 0.0
        )
        cand_frac = cand / (n * (n - 1) / 2)

        got = {
            (int(r["id_a"]), int(r["id_b"]))
            for r in lsh_neardup_pairs(
                aug, THRESHOLD, bits, BANDS
            ).collect()
        }
        truth = exact_pairs(ids, mat)
        recall = len(got & truth) / len(truth) if truth else 1.0
        ratio = wall / prev_wall if prev_wall else None
        rows[d] = {
            "n_vecs": n,
            "bits": bits,
            "wall_s": round(wall, 2),
            "ratio": round(ratio, 1) if ratio else None,
            "true_pairs": len(truth),
            "found": len(got & truth),
            "false_pos": len(got - truth),
            "recall": round(recall, 4),
            "cand_frac_of_n2": float(f"{cand_frac:.2e}"),
        }
        print(
            f"| {d} | {n} | {wall:.2f} s | "
            f"{(f'{ratio:.1f}x' if ratio else '-')} | {len(truth)} | "
            f"{recall:.4f} | {cand_frac:.1e} |",
            flush=True,
        )
        prev_wall = wall
    print(
        json.dumps(
            {
                "threshold": THRESHOLD,
                "bands": BANDS,
                "plant_every": PLANT_EVERY,
                "dirs": rows,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

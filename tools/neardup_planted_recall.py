"""Fourth-decade measurement for the production near-dup path, with
recall certified against the PLANTED truth set.

tools/neardup_decade.py certifies recall against the exact all-pairs
answer — the gold standard, but its blockwise numpy pass is O(n^2)
element work and takes hours at 2 M vectors (16 k blocks of
round+nonzero over 268 M doubles each).  This variant exploits what
that full pass PROVED at every lower decade: on the decorrelated
synthetic corpus the complete >= 0.95-cosine truth set IS the planted
twin set (sf10: 4 000 true pairs = exactly 200 000/PLANT_EVERY, zero
natural pairs — the corpus' own near-dup structure lives at
0.4-0.6 cosine).  So here:

- truth = the planted (id, -(id+1)) pairs whose exact float64 cosine
  rounds >= 0.95 (a single O(#twins) numpy pass, not O(n^2));
- every pair the operator emits BEYOND that set is individually
  re-verified with its exact cosine: a pair that passes is a natural
  >= 0.95 pair the planted-only truth missed (breaking the zero-
  natural-pairs premise — reported, and the run is then NOT a full-
  recall certificate); a pair that fails would be an operator bug.

Walls are timed as bench.py times them (noop sink, warmup), warm
best-of-3 on both sides.

Usage: python tools/neardup_planted_recall.py [small_dir large_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_system_spark.operators.similarity import (  # noqa: E402
    banded_lsh_buckets,
    lsh_neardup_pairs,
)
from distributed_system_spark.queries.similarity_q import _vecs  # noqa: E402
from distributed_system_spark.session import get_spark  # noqa: E402
from tools.neardup_decade import (  # noqa: E402
    BANDS,
    BEST_OF,
    PLANT_EVERY,
    THRESHOLD,
    bits_for,
    plant_neardups,
)


def planted_truth(spark, aug) -> set[tuple[int, int]]:
    """Exact-cosine-filtered planted pairs, O(#twins) not O(n^2)."""
    twins = aug.filter(aug.id < 0).collect()
    base = {
        r["id"]: np.asarray(r["vec"], dtype=np.float64)
        for r in aug.filter(
            (aug.id >= 0) & (aug.id % PLANT_EVERY == 0)
        ).collect()
    }
    out: set[tuple[int, int]] = set()
    for r in twins:
        tid = int(r["id"])
        vid = -tid - 1
        v = base[vid]
        w = np.asarray(r["vec"], dtype=np.float64)
        cos = float(
            np.round(
                v @ w / (np.linalg.norm(v) * np.linalg.norm(w)), 6
            )
        )
        if cos >= THRESHOLD:
            a, b = sorted((vid, tid))
            out.add((a, b))
    return out


def main() -> int:
    dirs = sys.argv[1:] or ["/tmp/dss-scale/sf10", "/tmp/dss-scale/sf100e"]
    spark = get_spark("neardup-planted-recall")
    rows: dict[str, dict] = {}
    prev_wall: float | None = None
    for d in dirs:
        aug = plant_neardups(_vecs(spark, d))
        n = aug.count()
        bits = bits_for(n)

        def run() -> float:
            t0 = time.time()
            lsh_neardup_pairs(aug, THRESHOLD, bits, BANDS).write.format(
                "noop"
            ).mode("overwrite").save()
            return time.time() - t0

        run()  # warmup
        wall = min(run() for _ in range(BEST_OF))

        cand = (
            banded_lsh_buckets(aug, bits, BANDS)
            .groupBy("band", "bucket")
            .count()
            .selectExpr("sum(count * (count - 1) / 2) AS pairs")
            .collect()[0]["pairs"]
            or 0.0
        )
        got = {
            (int(r["id_a"]), int(r["id_b"]))
            for r in lsh_neardup_pairs(
                aug, THRESHOLD, bits, BANDS
            ).collect()
        }
        truth = planted_truth(spark, aug)
        extras = got - truth  # natural >= 0.95 pairs, if any exist
        recall = len(got & truth) / len(truth) if truth else 1.0
        ratio = wall / prev_wall if prev_wall else None
        rows[d] = {
            "n_vecs": n,
            "bits": bits,
            "wall_s": round(wall, 2),
            "ratio": round(ratio, 1) if ratio else None,
            "planted_true": len(truth),
            "found": len(got & truth),
            "natural_extras": len(extras),
            "recall_vs_planted": round(recall, 4),
            "cand_frac_of_n2": float(f"{cand / (n * (n - 1) / 2):.2e}"),
        }
        print(f"| {d} | " + " | ".join(str(v) for v in rows[d].values()) + " |", flush=True)
        prev_wall = wall
    print(json.dumps({"queries": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Plan text for registered queries, three ways.

    python tools/explain.py [sf_dir] > PLANS.md
        Final physical plans of the SHOWCASE queries: the evidence for
        the scale claims in SCALE.md.
    python tools/explain.py --capture DIR SUFFIX NAME...
        ``DIR/<NAME>_<SUFFIX>.txt`` final physical plans at sf0.01:
        before/after evidence for a plan change (plans/r13, plans/r14).
    python tools/explain.py --fingerprints
        Rewrite queries/fingerprints.json, ``{name: [fp, since]}``
        (:func:`fingerprint`).  An unchanged ``fp`` keeps its
        ``since``; a changed or new one gets the newest CORRECTNESS
        round on disk.  Run it after any plan change; commit the file.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from __spark_entry__ import SF_SMOKE_DIR  # noqa: E402
from distributed_system_spark.queries import (  # noqa: E402
    FINGERPRINTS,
    Query,
    correctness_rounds,
    load_all,
)
from distributed_system_spark.session import get_spark  # noqa: E402

PLANS_SF_DIR = os.path.join(os.path.dirname(SF_SMOKE_DIR), "sf0.01")

SHOWCASE = [
    ("q1_pricing", "scan + partial/final hash aggregate"),
    ("q3_shipping_priority", "broadcast dim + fact shuffle + top-k"),
    ("q6_revenue_forecast", "pure pushed-down scan-agg (IO-bound)"),
    ("q21_waiting_supplier", "correlated EXISTS/NOT-EXISTS as semi+anti"),
    ("join_broadcast", "3-way broadcast dimension join"),
    ("join_sortmerge", "fact-fact sort-merge join"),
    ("topk_per_group", "window rank partitioned by group key"),
    ("orderby_limit", "TakeOrderedAndProject (never global sort)"),
    ("dedup_minhash_lsh", "banded LSH equi-joins, no cartesian"),
    ("text_fingerprint", "shuffle-free per-row fingerprints"),
    ("doc_chunking", "shuffle-free token-window chunking"),
    ("skew_report", "partial agg + top-k heap"),
    ("merge_upsert", "MERGE-INTO as one full-outer shuffle"),
    ("ts_similarity_topk", "series alignment + sufficient statistics"),
    ("simhash_neardup", "64-bit banded fingerprint equi-join"),
    ("ann_banded_topk", "multi-probe banded LSH candidate equi-join"),
    ("freq_heavy_hitters", "MG sketch scan + broadcast semi-join verify"),
    ("text_bm25_topk", "BM25: term-filtered tf + broadcast df/stats + top-k"),
    ("search_hybrid_rrf", "RRF fusion over two TakeOrdered top-50 lists"),
    ("join_bloom_prune", "Bloom runtime filter below the broadcast semi-join"),
    ("rfm_segments", "quintile thresholds as broadcast row, window-free"),
    ("basket_lift_pairs", "basket-bounded self-join + broadcast supports"),
    ("curation_pipeline", "the composed gate→exact→fuzzy→split flagship"),
    ("dedup_substring_spans", "linear shingle explode + md5 hash join-back"),
    ("ann_pq_topk", "PQ encode argmin + broadcast ADC tables + rerank"),
    ("join_interval_overlap", "overlap predicate as residual on user_id hash join"),
    ("orc_partitioned_scan", "ORC partition pruning (o_orderstatus=F only)"),
    ("agg_skew_twophase", "salted partial agg → final re-aggregate"),
    ("event_path_topk", "two leads on one user_id shuffle + bounded rank"),
    ("drift_psi", "one scan into 10 PSI counters + broadcast totals"),
    ("ts_changepoint_cusum", "aggregate-first CUSUM over the day spine"),
    ("corr_matrix", "6-pair correlation matrix in ONE aggregate scan"),
    ("ri_orphan_audit", "3 FK edges audited in one fact scan"),
    ("quantile_normalize_sources", "broadcast interval lookup + keyed rank"),
    ("hard_negative_mining", "cell-bounded candidate equi-join + top-3"),
    ("attribution_markov_removal", "|types|-bounded power iteration"),
    ("score_pr_curve", "integer score bucketing + grid cumsums"),
    ("minhash_calibration", "LSH candidates + per-pair signature compare"),
    ("user_feature_matrix", "one user_id exchange serves window + aggs"),
]

# Plan text that differs between two builds of the same query:
# expression ids, lambda-variable counters, CTE ids, plan ids, scratch
# paths.
_VOLATILE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\b(CTERelation(?:Def|Ref)|UnionLoop(?:Ref)?) \d+"), r"\1"),
    (re.compile(r"\b(lambda \w+?)_\d+"), r"\1_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/"),
]


def plan_text(df, analyzed: bool = False) -> str:
    """``df``'s final physical plan (runs ``df`` so AQE settles on it),
    or with ``analyzed`` its analyzed logical plan (runs nothing)."""
    qe = df._jdf.queryExecution()
    if analyzed:
        return qe.analyzed().toString()
    df.collect()
    return qe.executedPlan().toString().split("== Initial Plan ==")[0]


def fingerprint(spark, query: Query, sf_dir: str) -> str:
    """sha1 over the analyzed plan of ``query``'s DataFrame plus that of
    every DataFrame it ``localCheckpoint``s while it is built, with
    :data:`_VOLATILE` text normalized.  The checkpoint plans are
    recorded by wrapping the concrete class's ``localCheckpoint`` (the
    one tests/test_plans.py ``plan_of`` patches) around the real call,
    and sorted: ``concurrency.eager_all`` builds them on threads."""
    from pyspark.sql.classic.dataframe import DataFrame

    real = DataFrame.localCheckpoint
    subplans: list[str] = []

    def recording(self, *args, **kwargs):
        subplans.append(plan_text(self, analyzed=True))
        return real(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording  # type: ignore[method-assign]
    try:
        df = query.fn(spark, sf_dir)
    finally:
        DataFrame.localCheckpoint = real  # type: ignore[method-assign]
    text = "\n".join([plan_text(df, analyzed=True), *sorted(subplans)])
    for pattern, repl in _VOLATILE:
        text = pattern.sub(repl, text)
    return hashlib.sha1(text.encode()).hexdigest()


def fingerprints(spark, sf_dir: str = SF_SMOKE_DIR) -> dict[str, str]:
    """``{name: fp}`` for every registered query, name-sorted."""
    registry = load_all()
    out = {}
    for name in sorted(registry):
        out[name] = fingerprint(spark, registry[name], sf_dir)
        _drop_checkpoints(spark)
    return out


def _drop_checkpoints(spark) -> None:
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def write_fingerprints() -> int:
    old = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.exists() else {}
    newest = max(correctness_rounds(), default=0)
    # At the smoke sf0.001 data in the pytest session (tests/
    # conftest.py): plans carry core counts, e.g. `Repartition 4`.
    spark = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    new = {}
    for name, fp in fingerprints(spark).items():
        was = old.get(name)
        new[name] = was if was and was[0] == fp else [fp, newest]
        if new[name] is not was:
            print(f"{name}: since {newest}")
    lines = (f"{json.dumps(n)}: {json.dumps(v)}" for n, v in new.items())
    FINGERPRINTS.write_text("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {FINGERPRINTS} ({len(new)} queries)")
    return 0


def final_plans(names: list[str], sf_dir: str):
    """``(name, final physical plan)`` per query, in turn."""
    registry = load_all()
    spark = get_spark("explain")
    for name in names:
        yield name, plan_text(registry[name].fn(spark, sf_dir))
        _drop_checkpoints(spark)


def capture(out_dir: str, suffix: str, names: list[str]) -> int:
    os.makedirs(out_dir, exist_ok=True)
    for name, plan in final_plans(names, PLANS_SF_DIR):
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write("== Physical Plan ==\n" + plan)
        print(f"wrote {path}")
    return 0


def showcase(sf_dir: str) -> int:
    print("# PLANS — formatted physical plans (generated by tools/explain.py)")
    print()
    print(f"Scale factor dir: `{sf_dir}`. AQE final plans where adaptive;")
    print("`*(n)` prefixes mark whole-stage-codegen spans. The plan-shape")
    print("assertions these illustrate are enforced in tests/test_plans.py.")
    why = dict(SHOWCASE)
    for name, plan in final_plans(list(why), sf_dir):
        print(f"\n## {name} — {why[name]}\n")
        print("```")
        print(plan.rstrip())
        print("```")
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["--fingerprints"]:
        return write_fingerprints()
    if argv[:1] == ["--capture"] and len(argv) >= 4:
        return capture(argv[1], argv[2], argv[3:])
    if argv[:1] and argv[0].startswith("-"):
        print(__doc__, file=sys.stderr)
        return 2
    return showcase(argv[0] if argv else PLANS_SF_DIR)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

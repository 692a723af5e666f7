"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints two JSON lines on a full run, the sf1 line first:
  {"sf1_cpus": n, "sf1_times": [sec, ...], "sf1_total": sec}
  {"metric": ..., "unit": "sec", "best_of": 2, "sf": ...,
   "queries": {name: sec, ...}, "value": total_sec}
``sf1_times`` follows ``SF1_SUBSET`` order.  Times are rounded to
2 decimals and ``value`` is the sum of the printed times.  An --only
run, or a run at any sf other than 0.1, prints the contract line
alone.  Round-to-round deltas come from consecutive records'
``queries`` maps; the harness does not compare against them.

Each query is executed with a noop sink (computes every output
column, excludes sink cost) after one warmup action to absorb JVM/
codegen startup, and timed warm best-of-2.

Usage:
  python bench.py                 # full HEADLINE list
  python bench.py --only NAME...  # subset (iterating on one query)
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from distributed_system_spark.queries import load_all  # noqa: E402
from distributed_system_spark.scratch import fresh_dir  # noqa: E402
from distributed_system_spark.session import (  # noqa: E402
    drop_persisted,
    get_spark,
)

# Warm best-of-N per query: single-shot timing let a ~9-25% machine/
# JVM band drift 52 of 55 queries with no code cause; the second pass
# removes that band from round-over-round comparisons.
BEST_OF = 2

HEADLINE = [
    "wordcount",          # flagship (reference's only workload)
    "mj_wordcount",       # same, through the maple→juice fidelity layer
    "q1_pricing",         # heaviest scan+agg (TPC-H Q1 shape)
    "q3_shipping_priority",  # 3-table join + agg + top-k (TPC-H Q3 shape)
    "q5_local_supplier_volume",  # 6-table join (TPC-H Q5 shape)
    "q10_returned_items", # selective join + agg + top-k (TPC-H Q10 shape)
    "q6_revenue_forecast",  # pure scan+filter+agg (TPC-H Q6 shape, IO-bound)
    "q9_product_profit",  # 5-table join, profit rollup (TPC-H Q9 shape)
    "q18_large_volume",   # HAVING over grouped fact + join-back (TPC-H Q18)
    "q21_waiting_supplier",  # correlated EXISTS/NOT-EXISTS (TPC-H Q21)
    "join_broadcast",     # 3-way broadcast dim join
    "join_sortmerge",     # fact-fact SMJ
    "topk_per_group",     # join + agg + window
    "window_running",     # running-total window over orders
    "dedup_simhash",      # simhash fingerprints over documents
    "text_fingerprint",   # sampled-shingle fingerprints (sparse at scale)
    "ann_topk_cosine",    # brute-force ANN over embeddings
    "kmeans_clusters",    # iterative Lloyd assignment over embeddings
    "doc_chunking",       # token-window chunking (LLM prep, shuffle-free)
    "win_session",        # session windows over events
    "embedding_neardup",  # banded-LSH cosine near-dup (bounded candidates)
    "simhash_neardup",    # 64-bit simhash banded near-dup pairs
    "dedup_minhash_ctrl", # MinHash+LSH on the controlled-dup-rate corpus
    "freq_heavy_hitters", # Misra-Gries sketch pass + exact verify
    "text_bm25_topk",     # BM25 ranked retrieval (inverted-index shape)
    "search_hybrid_rrf",  # BM25 + dense-cosine reciprocal-rank fusion
    "text_lm_bigram_nll", # bigram-LM perplexity gate (CCNet shape)
    "join_bloom_prune",   # Bloom runtime filter ahead of the join
    # NOT benched: the raw-corpus curation_pipeline and
    # dedup_incremental.  The synthetic table's ~31-word vocabulary
    # makes nearly every pair a TRUE dup, so their wall measures output
    # mass, not plan cost.  Both stay registered and oracle-checked;
    # the controlled-corpus forms below are benched in their place.
    "curation_pipeline_ctrl",  # gate→exact→fuzzy dedup→split flagship
    "hard_negative_mining",  # cell-partitioned contrastive mining
    "drift_psi",          # standing PSI drift monitor (one scan)
    "lsh_neardup_prod",   # pinned-knob production near-dup contract
    "lsh_neardup_adaptive",  # corpus-count-derived band width
    "ann_index_upsert",   # incremental ANN postings maintenance
    "prep_pipeline",      # filter→split→decontaminate→pack in one plan
    "ann_mutual_knn_graph",  # mutual-kNN graph over adaptive cells
    "eval_set_builder",   # eval-side twin of prep_pipeline
    "crossmodal_dedup_pipeline",  # image pHash + text simhash drop list
    "dedup_incremental_ctrl",  # standing-index steady state (ctrl corpus)
    "dedup_incremental_capped",  # raw corpus under a capped candidate join
    "domain_quota_curation",  # domain-cap + global-budget admission
    "dedup_crosslingual_entities",  # shared-entity fingerprints
    "intradoc_dedup_lines",  # within-doc repeated-line removal (pure map)
    "split_leakage_simhash_ctrl",  # 128-bit banded split-leakage audit
    "crossmodal_dedup_ctrl",  # 60-bit image + 128-bit text banding
    "pii_checksum_mask",  # Luhn/IBAN checksum-validated PII masking
    "dedup_substring_chains",  # shingle-chain copied-passage dedup
    "text_strip_markup",  # tag strip + entity decode (one codegen scan)
    "mm_audio_fingerprint",  # energy-delta audio dedup via the WAV codec
    "dataset_group_kfold_ctrl",  # leakage-safe group k-fold
    "contamination_fuzzy",  # cross-split MinHash-band decontamination
    "dataset_dsir_select",  # DSIR hashed-ngram importance selection
    "aug_word_dropout",   # deterministic dropout (pure scan)
    "domain_blocklist_filter",  # suffix-wildcard blocklist
    "mm_transcript_align",  # chunk→audio-segment forced alignment
    "window_ntile_bucketed",  # exact global ntile via partitioned window
    "mm_interleaved_pack",  # interleaved image+text VLM packing
    "dedup_substring_chains_incr",  # standing-index substring dedup
    "contamination_incr", # standing eval-set decontamination
    "window_ntile_bucketed_orders",  # exact global rank on a fact table
]
# NOT here: the *_sliced forms (dedup_substring_chains_sliced,
# dedup_incremental_capped_sliced).  They are disk-bounded EXECUTION
# variants of queries benched above in their one-shot forms, measured
# in SCALE.md's fifth decade, not at sf0.1.
# NOT here: dedup_minhash_lsh / dedup_ngram_jaccard.  Oracle-green, but
# on this ~31-word-vocabulary corpus nearly every doc pair at sf0.1 is
# a TRUE >=0.8-Jaccard duplicate (ngram: 3.0M qualifying pairs from 5k
# docs), so their wall is output-quadratic by data.  embedding_neardup,
# simhash_neardup and dedup_minhash_ctrl measure the same bucketed
# candidate machinery on data with a sane dup rate.

# Data-dominated subset re-timed at a manufactured sf1 (10x sf0.1,
# tools/scaleup.py, built fresh each run into a scratch dir that is
# removed at exit).  At sf0.1 most walls sit near the ~0.3 s Spark job
# floor, so an 8-vs-32-core comparison reads ~1 everywhere; at sf1
# these queries show the parallelism.
SF1_SUBSET = [
    "wordcount", "q1_pricing", "join_sortmerge", "q9_product_profit",
    "dedup_minhash_ctrl", "simhash_neardup", "text_bm25_topk",
    "kmeans_clusters", "dedup_substring_chains", "eval_set_builder",
    "contamination_fuzzy", "crossmodal_dedup_pipeline",
]


def _time_query(spark, registry, name: str, sf_dir: str) -> float:
    t0 = time.time()
    registry[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    elapsed = time.time() - t0
    # Drop the blocks the query's localCheckpoints persisted AFTER the
    # wall is captured: each query pays its own checkpoint builds, and
    # none competes with another's leftovers for execution memory.
    drop_persisted(spark)
    return elapsed


def _sf1_times(spark, registry, sf_dir: str) -> list[float] | None:
    """Wall per SF1_SUBSET name at sf1 built from ``sf_dir``, in list
    order.  A failure prints its traceback to stderr and returns None,
    so the contract line still prints."""
    try:
        from tools import scaleup

        sf1_dir = scaleup.build(fresh_dir("bench-sf1"), "sf1", src=sf_dir)
        return [_time_query(spark, registry, n, sf1_dir) for n in SF1_SUBSET]
    except Exception:
        traceback.print_exc()
        return None


def format_record(
    sf,
    times: dict[str, float],
    sf1_cpus: int | None = None,
    sf1_times: list[float] | None = None,
) -> str:
    """bench.py's stdout: the sf1 line (when ``sf1_times`` is given),
    then the contract line.  The driver keeps the last 2000 chars of
    output, so both lines carry only what it reads."""
    lines = []
    if sf1_times is not None:
        sf1 = [round(t, 2) for t in sf1_times]
        lines.append({
            "sf1_cpus": sf1_cpus,
            "sf1_times": sf1,
            "sf1_total": round(sum(sf1), 2),
        })
    queries = {n: round(t, 2) for n, t in times.items()}
    lines.append({
        "metric": "headline_queries_total",
        "unit": "sec",
        "best_of": BEST_OF,
        "sf": sf,
        "queries": queries,
        "value": round(sum(queries.values()), 2),
    })
    return "\n".join(json.dumps(d, separators=(",", ":")) for d in lines)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    names = list(HEADLINE)
    if args and args[0] == "--only":
        names = args[1:]
        if not names:
            print("usage: bench.py [--only NAME...]", file=sys.stderr)
            return 2
    registry = load_all()
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("bench")
    # warmup: JVM + codegen + FS metadata
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    times = {
        name: min(
            _time_query(spark, registry, name, sf_dir)
            for _ in range(BEST_OF)
        )
        for name in names
    }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    sf1_times = (
        _sf1_times(spark, registry, sf_dir)
        if not args and sf == 0.1
        else None
    )
    cpus = spark.sparkContext.defaultParallelism
    print(format_record(sf, times, cpus, sf1_times))
    return 0


if __name__ == "__main__":
    sys.exit(main())

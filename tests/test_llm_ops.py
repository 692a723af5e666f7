"""LLM-pipeline operator properties: LSH recall vs exact Jaccard,
simhash locality, ANN top-k shape, multimodal plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from distributed_system_spark import scratch
from distributed_system_spark.operators.dedup import (
    doc_tokens,
    jaccard_verify,
    lsh_band_signatures,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash16,
    simhash64,
)
from distributed_system_spark.operators.multimodal import (
    attach_binary,
    decode_image,
    extract_features,
    fake_features,
)
from distributed_system_spark.operators.similarity import (
    banded_lsh_buckets,
    brute_force_topk,
    cosine_neardup_pairs,
    ivf_topk,
    lsh_bucket_topk,
    lsh_neardup_pairs,
    vec_double,
)
from distributed_system_spark.sources.tables import load_table


def _toks(spark, sf_dir):
    return doc_tokens(load_table(spark, sf_dir, "documents"))


def _staging_root_of(df, prefix: str) -> str:
    """The one staging root the lazy frame ``df`` reads, taken from its
    input files instead of a glob of this process's scratch root: a
    root left by an earlier build must never be the one a test
    inspects."""
    import re

    here = re.escape(scratch.root())
    (root,) = {
        m.group(0)
        for f in df.inputFiles()
        if (m := re.search(rf"{here}/{prefix}-[^/]+", f))
    }
    return root


def test_lsh_pairs_subset_of_exact_with_high_recall(spark, sf_dir):
    toks = _toks(spark, sf_dir).cache()
    exact = {
        (r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(toks, 0.8).collect()
    }
    sigs = minhash_signatures(toks, num_hashes=8)
    cand = lsh_candidate_pairs(lsh_band_signatures(sigs, rows_per_band=2))
    lsh = {
        (r["id_a"], r["id_b"])
        for r in jaccard_verify(cand, toks, 0.8).collect()
    }
    assert lsh <= exact  # verification step guarantees precision == 1
    if exact:
        assert len(lsh) / len(exact) > 0.9  # S-curve: ~98% at s=0.8


def test_simhash_identical_docs_equal_fingerprints(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w q")],
        "doc_id bigint, text string",
    )
    out = {r["id"]: r["simhash"] for r in simhash16(doc_tokens(docs)).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert all(0 <= v < 2**16 for v in out.values())
    out64 = {
        r["id"]: r["simhash"] for r in simhash64(doc_tokens(docs)).collect()
    }
    assert out64[1] == out64[2]
    assert out64[1] != out64[3]


def test_simhash64_collisions_only_for_near_dups_sf01(spark):
    """The r3 scale flag: 16-bit fingerprints saturate (65,536 values)
    so unrelated docs birthday-collide well below real corpus sizes;
    64-bit fingerprints may collide ONLY for genuine near-duplicates.
    Verified on the sf0.1 corpus (5,000 docs): every cross-token-set
    64-bit exact collision must be a true near-dup (Jaccard >= 0.5),
    while the 16-bit fingerprint demonstrably conflates unrelated
    docs."""
    from distributed_system_spark.operators.dedup import jaccard_verify

    toks = doc_tokens(
        load_table(spark, "/root/testdata/sf0.1", "documents")
    ).cache()
    try:
        sets = toks.groupBy("id").agg(
            F.md5(
                F.concat_ws(",", F.sort_array(F.collect_list("tok")))
            ).alias("sk")
        )
        n_sets = sets.select("sk").distinct().count()

        def cross_set_collisions(fp):
            x = fp.join(sets, "id")
            a = x.select(
                F.col("id").alias("id_a"), "simhash", F.col("sk").alias("ska")
            )
            b = x.select(
                F.col("id").alias("id_b"), "simhash", F.col("sk").alias("skb")
            )
            return (
                a.join(b, "simhash")
                .filter("id_a < id_b AND ska != skb")
                .select("id_a", "id_b")
            )

        fp64 = simhash64(toks).cache()
        fp16 = simhash16(toks).cache()
        # 16-bit: far fewer distinct fingerprints than distinct token
        # sets (saturated), and a huge number of cross-set collisions
        n16 = fp16.select("simhash").distinct().count()
        assert n_sets - n16 > 1000, (n_sets, n16)
        assert cross_set_collisions(fp16).count() > 10_000
        # 64-bit: every cross-set collision is a genuine near-dup
        c64 = cross_set_collisions(fp64).cache()
        n_c64 = c64.count()
        assert n_c64 < 5_000, n_c64
        near = jaccard_verify(c64, toks, 0.5).count()
        assert near == n_c64, (near, n_c64)
    finally:
        toks.unpersist()


def test_brute_force_topk_shape_and_order(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), vec_double("embedding").alias("vec")
    )
    out = brute_force_topk(
        emb.filter(F.col("id") < 3), emb.filter(F.col("id") >= 3), k=4
    ).collect()
    assert len(out) == 12  # 3 queries x 4
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append((r["rnk"], r["cos"]))
    for rows in by_q.values():
        rows.sort()
        cos = [c for _, c in rows]
        assert cos == sorted(cos, reverse=True)  # rank follows cosine


def test_lsh_topk_is_bucket_restricted_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), vec_double("embedding").alias("vec")
    )
    q = emb.filter(F.col("id") < 3)
    c = emb.filter(F.col("id") >= 3)
    approx = lsh_bucket_topk(q, c, k=3, num_planes=4).collect()
    exact = brute_force_topk(q, c, k=3).collect()
    # approximate neighbors are a subset of the corpus with valid ranks
    assert all(r["rnk"] <= 3 for r in approx)
    assert len(approx) <= len(exact)


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """IVF with nprobe = n_lists degenerates to exact search (every
    list probed); with nprobe < n_lists it returns a valid-rank subset
    with reasonable recall@k against brute force."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), vec_double("embedding").alias("vec")
    )
    q = emb.filter(F.col("id") < 5)
    c = emb.filter(F.col("id") >= 5)
    cents = emb.filter((F.col("id") >= 5) & (F.col("id") < 9))  # 4 lists

    def pairs(df):
        return {(r["q_id"], r["n_id"]) for r in df.collect()}

    exact = pairs(brute_force_topk(q, c, k=3))
    full_probe = pairs(ivf_topk(q, c, cents, k=3, nprobe=4))
    assert full_probe == exact  # all lists probed == exhaustive

    approx = ivf_topk(q, c, cents, k=3, nprobe=2)
    rows = approx.collect()
    assert all(r["rnk"] <= 3 for r in rows)
    got = pairs(approx)
    assert len(got & exact) / len(exact) >= 0.5  # recall@3, nprobe=2/4


def test_connected_components_labels_and_convergence(spark):
    """Known graph: {1-2, 2-3} ∪ {5-6} ∪ isolated 9 → three components
    labeled by their min member, including a 2-hop chain (needs >1
    iteration of label propagation)."""
    from distributed_system_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], "id long")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_multimodal_roundtrip_bytes_exact(spark):
    docs = spark.createDataFrame(
        [(1, "hello"), (2, "Ab9!")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["n_bytes"], r["head_sum"])
        for r in extract_features(attach_binary(docs)).collect()
    }
    assert out[1] == (5, sum(b"hello"))
    assert out[2] == (4, sum(b"Ab9!"))


def test_fake_features_deterministic():
    assert fake_features(b"abc") == fake_features(b"abc")
    n, s, f = fake_features(bytes(range(100)))
    assert (n, s) == (100, sum(range(64)))
    assert 0 <= f < 1


def test_decode_image_stub_raises_without_codec():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_doc_chunking_reconstructs_original(spark, sf_dir):
    """Chunk coverage invariant: dropping the 10-token overlap from
    every chunk after the first reconstructs the original token
    stream exactly — no token lost or duplicated at any boundary."""
    import pyspark.sql.functions as F

    from distributed_system_spark.queries.text_q import doc_chunking
    from distributed_system_spark.sources.tables import load_table

    chunks = doc_chunking(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        rebuilt: list[str] = []
        for i, r in enumerate(rows):
            toks = r["chunk_text"].split(" ") if r["chunk_text"] else [""]
            assert len(toks) == r["n_tok"], (doc_id, r)
            rebuilt.extend(toks if i == 0 else toks[10:])
        assert rebuilt == docs[doc_id], doc_id


def test_banded_lsh_neardup_equals_exact(spark, sf_dir):
    """lsh_neardup_pairs (banded hyperplane LSH candidates + exact
    cosine verify) must reproduce the exhaustive all-pairs result at
    default knobs: precision 1 by construction (exact filter), recall
    1 empirically — deterministic md5 planes make that a fixed
    property of the corpus, not a per-run gamble."""
    from distributed_system_spark.queries.similarity_q import _vecs

    vecs = _vecs(spark, sf_dir).cache()
    exact = {tuple(r) for r in cosine_neardup_pairs(vecs, 0.4).collect()}
    lsh = {tuple(r) for r in lsh_neardup_pairs(vecs, 0.4).collect()}
    assert lsh == exact
    assert len(exact) > 0  # non-vacuous at every shipped SF


def test_banded_lsh_buckets_shape(spark, sf_dir):
    """One (band, bucket) row per vector per band; buckets within
    [0, 2^bits)."""
    from distributed_system_spark.queries.similarity_q import _vecs

    vecs = _vecs(spark, sf_dir)
    n = vecs.count()
    bb = banded_lsh_buckets(vecs, bits_per_band=3, bands=8).cache()
    assert bb.count() == n * 8
    stats = bb.agg(
        F.min("bucket").alias("lo"),
        F.max("bucket").alias("hi"),
        F.countDistinct("band").alias("nb"),
    ).first()
    assert stats["nb"] == 8
    assert 0 <= stats["lo"] and stats["hi"] <= 7


def test_prefix_filter_lossless_and_smaller(spark, sf_dir):
    """prefix_index must (a) shrink the inverted index, (b) lose no
    qualifying pair: ngram_jaccard_pairs through the prefix filter
    equals the naive every-token inverted-index join."""
    from distributed_system_spark.operators.dedup import (
        jaccard_verify,
        prefix_index,
    )

    toks = _toks(spark, sf_dir).cache()
    t = 0.8
    full_index = toks.count()
    pruned = prefix_index(toks, t).count()
    assert pruned < full_index, (pruned, full_index)

    # naive exhaustive baseline: every shared-token pair, exact verify
    a = toks.select(F.col("id").alias("id_a"), "tok")
    b = toks.select(F.col("id").alias("id_b"), "tok")
    all_cand = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    naive = {tuple(r) for r in jaccard_verify(all_cand, toks, t).collect()}
    fast = {tuple(r) for r in ngram_jaccard_pairs(toks, t).collect()}
    assert fast == naive
    assert len(naive) > 0


def test_contamination_check_short_docs_no_crash(spark, tmp_path):
    """Docs with <8 tokens must contribute zero 8-grams (like the
    oracle's empty range) instead of crashing slice() on a descending
    sequence."""
    import os

    from distributed_system_spark.queries import load_all

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"t{i}" for i in range(30))), (3, "x")],
        "doc_id bigint, text string",
    )
    docs.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    out = load_all()["contamination_check"].fn(spark, str(tmp_path))
    assert out.count() == 0  # no crash, no phantom grams


def test_banded_lsh_topk_recall_at_sf01():
    """Recall@3 >= 0.8 against brute force at sf0.1 with the default
    knobs (3 bits x 16 bands; measured 0.98).  Single-bucket
    lsh_bucket_topk is NOT held to this bar — on this corpus true
    neighbors sit ~60 degrees apart and one sign flip evicts them
    (measured 0.03-0.38); banding is the documented fix."""
    from distributed_system_spark.operators.similarity import (
        banded_lsh_topk,
    )
    from distributed_system_spark.queries.similarity_q import _vecs
    from distributed_system_spark.session import get_spark

    spark = get_spark("recall-test")
    vecs = _vecs(spark, "/root/testdata/sf0.1").cache()
    q = vecs.filter(F.col("id") < 20).cache()
    c = vecs.filter(F.col("id") >= 20).cache()
    exact = {(r["q_id"], r["n_id"]) for r in brute_force_topk(q, c, k=3).collect()}
    approx = {(r["q_id"], r["n_id"]) for r in banded_lsh_topk(q, c, k=3).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, recall


def test_multiprobe_banded_lsh_recall_at_half_index_cost():
    """Multi-probe LSH (flip the lowest-margin bit per band on the
    query side): 4 bits x 8 bands x 2 probes must match the recall bar
    of the single-probe 3 x 16 default while building HALF the corpus
    index rows — the recall-per-cost booster the r3 verdict asked
    for.  sf0.1 corpus, recall@3 vs brute force."""
    from distributed_system_spark.operators.similarity import (
        banded_lsh_buckets,
        banded_lsh_topk,
    )
    from distributed_system_spark.queries.similarity_q import _vecs
    from distributed_system_spark.session import get_spark

    spark = get_spark("recall-test")
    vecs = _vecs(spark, "/root/testdata/sf0.1").cache()
    q = vecs.filter(F.col("id") < 20).cache()
    c = vecs.filter(F.col("id") >= 20).cache()
    exact = {
        (r["q_id"], r["n_id"]) for r in brute_force_topk(q, c, k=3).collect()
    }
    approx = {
        (r["q_id"], r["n_id"])
        for r in banded_lsh_topk(
            q, c, k=3, bits_per_band=4, bands=8, probes=2
        ).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, recall
    # corpus index cost: 8 bands/vector vs the default's 16
    n = c.count()
    assert banded_lsh_buckets(c, 4, 8).count() == n * 8
    assert banded_lsh_buckets(c, 3, 16).count() == n * 16
    # multi-probe emits probes x bands rows for the (small) query side
    assert banded_lsh_buckets(q, 4, 8, probes=2).count() == q.count() * 16


def test_llm_operators_graceful_on_empty_corpus(spark, tmp_path):
    """Every doc/embedding-based operator must yield an EMPTY result on
    an empty corpus — never crash (the class of bug that bit
    contamination_check's descending sequence() on short docs).  An
    empty partition is an everyday occurrence at 100 TB; operators
    that only work on non-empty input are not operators."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_system_spark.queries import load_all

    d = str(tmp_path / "empty-sf")
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([], pa.int64()),
                "text": pa.array([], pa.string()),
                "lang": pa.array([], pa.string()),
                "source": pa.array([], pa.string()),
                "n_chars": pa.array([], pa.int64()),
            }
        ),
        f"{d}/documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
            }
        ),
        f"{d}/embeddings.parquet",
    )
    reg = load_all()
    names = [
        "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_simhash", "simhash_neardup", "dedup_minhash_ctrl",
        "text_langid", "text_quality", "text_token_count",
        "text_fingerprint", "doc_chunking", "dataset_split",
        "dataset_mix", "seq_packing", "contamination_check",
        "freq_heavy_hitters", "mm_binary_meta", "mm_frame_sample",
        "mm_audio_segments", "embedding_neardup", "ann_topk_cosine",
        "embedding_quantize_int8", "weighted_sample",
        "text_bm25_topk", "text_lm_bigram_nll", "text_token_ids",
        "dedup_containment",
    ]
    for n in names:
        assert reg[n].fn(spark, d).count() == 0, n


def test_incremental_dedup_against_persisted_index(spark, sf_dir, tmp_path):
    """The production decomposition of dedup_incremental: the standing
    corpus's band signatures are PERSISTED (DatasetStore parquet), the
    daily increment computes signatures only for its own docs, and the
    candidate join runs new-bands vs (loaded index ∪ new bands).  The
    survivors must equal the registered one-shot query — proving the
    operator splits into index maintenance + increment join with no
    recompute of history."""
    import pyspark.sql.functions as F

    from distributed_system_spark.queries import load_all
    from distributed_system_spark.sources.store import DatasetStore

    docs = load_table(spark, sf_dir, "documents")
    toks = doc_tokens(docs).cache()
    store = DatasetStore(spark, str(tmp_path / "index-store"))

    # index maintenance: persist existing docs' band signatures
    existing_toks = toks.join(
        docs.filter(F.col("doc_id") < 400).select(
            F.col("doc_id").alias("id")
        ),
        "id",
    )
    existing_bands = lsh_band_signatures(
        minhash_signatures(existing_toks, num_hashes=8), rows_per_band=2
    )
    store.put(existing_bands, "index/minhash_bands")

    # increment: signatures for new docs only, joined vs loaded index
    new_toks = toks.join(
        docs.filter(F.col("doc_id") >= 400).select(
            F.col("doc_id").alias("id")
        ),
        "id",
    )
    new_bands = lsh_band_signatures(
        minhash_signatures(new_toks, num_hashes=8), rows_per_band=2
    )
    all_bands = store.get("index/minhash_bands").unionByName(new_bands)
    cand = lsh_candidate_pairs(all_bands).filter(F.col("id_b") >= 400)
    dup_new = (
        jaccard_verify(cand, toks, 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    survivors = {
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") >= 400)
        .join(dup_new, "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    }
    want = {
        r["doc_id"]
        for r in load_all()["dedup_incremental"].fn(spark, sf_dir).collect()
    }
    assert survivors == want
    assert 0 < len(survivors) < docs.filter("doc_id >= 400").count()


def test_keep_best_selects_max_quality_member(spark, sf_dir):
    """dedup_keep_best's representative must be an actual member of
    its cluster with the maximal unique-token count (doc_id ascending
    as tie-break), and cluster sizes must conserve the corpus."""
    from distributed_system_spark.operators.dedup import (
        connected_components,
        simhash_neardup_pairs,
    )
    from distributed_system_spark.queries import load_all

    docs = load_table(spark, sf_dir, "documents")
    out = {
        r["cluster_id"]: (r["keep_id"], r["n_members"])
        for r in load_all()["dedup_keep_best"].fn(spark, sf_dir).collect()
    }
    assert sum(n for _, n in out.values()) == docs.count()

    toks = doc_tokens(docs)
    edges = simhash_neardup_pairs(simhash64(toks), max_hamming=3).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges, docs.select(F.col("doc_id").alias("id")))
    qual = {
        r["id"]: r["nu"]
        for r in docs.select(
            F.col("doc_id").alias("id"),
            F.size(F.array_distinct(F.split("text", " ", -1))).alias("nu"),
        ).collect()
    }
    members: dict[int, list[int]] = {}
    for r in cc.collect():
        members.setdefault(r["comp"], []).append(r["id"])
    assert set(members) == set(out)
    for comp, ids in members.items():
        keep_id, n = out[comp]
        assert n == len(ids)
        assert keep_id in ids
        best = sorted(ids, key=lambda i: (-qual[i], i))[0]
        assert keep_id == best


def test_remove_boilerplate_strips_injected_header(spark, sf_dir):
    """Every doc carries the injected 10-token per-source header
    chunk (25 docs/source >= the df-5 threshold), so every output must
    have dropped at least one chunk, no header token may survive, and
    kept+dropped must equal the doc's total chunk count."""
    import math

    from distributed_system_spark.queries import load_all

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    out = load_all()["text_remove_boilerplate"].fn(spark, sf_dir).collect()
    assert len(out) == len(docs)
    for r in out:
        assert r["n_dropped"] >= 1
        assert "bp1_" not in r["clean_text"]
        n_tokens = len(docs[r["doc_id"]].split(" ")) + 10
        assert r["n_kept"] + r["n_dropped"] == math.ceil(n_tokens / 10)
        # surviving text is a subsequence of the original doc's tokens
        assert all(
            tok in docs[r["doc_id"]].split(" ")
            for tok in r["clean_text"].split(" ")
            if tok
        )


def test_random_projection_distortion_bounded(spark, sf_dir):
    """JL property: after the 1/sqrt(k) scale correction, projected
    pairwise distances concentrate around the originals — mean ratio
    ~1 and >= 90% of pairs within +-50% distortion (k=8 is the
    aggressive end; the bound widens as 1/sqrt(k)).  Also pins the
    projection plan free of DATA-DEPENDENT shuffles: the one exchange
    allowed is widen_if_narrow's round-robin layout repair on the
    single-row-group test file (a no-op on real layouts — see
    test_plans.test_widen_if_narrow_semantics)."""
    import numpy as np

    from distributed_system_spark.queries import load_all

    q = load_all()["embedding_random_projection"]
    df = q.fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # Pin out broadcast too — round-robin layout repair is the only
    # exchange the shuffle-free claim admits.
    assert "BroadcastExchange" not in plan, plan

    proj: dict[int, list[float]] = {}
    for r in df.collect():
        proj.setdefault(r["vec_id"], [0.0] * 8)[r["j"]] = r["val"]
    orig = {
        r["id"]: np.array(r["vec"])
        for r in load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("id"), vec_double("embedding").alias("vec"))
        .collect()
    }
    ids = sorted(orig)
    ratios = []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            d_orig = np.linalg.norm(orig[ids[a]] - orig[ids[b]])
            d_proj = np.linalg.norm(
                np.array(proj[ids[a]]) - np.array(proj[ids[b]])
            ) / np.sqrt(8)
            if d_orig > 0:
                ratios.append(d_proj / d_orig)
    r = np.array(ratios)
    assert 0.85 < r.mean() < 1.15, r.mean()
    assert (np.abs(r - 1) < 0.5).mean() >= 0.9


def test_pq_topk_approximates_brute_force(spark, sf_dir):
    """PQ (16x4 subspaces, ADC top-50 shortlist, exact rerank) must
    recover >= 80% of the true top-3 cosine neighbors and return
    exactly 3 ranked rows per query."""
    from distributed_system_spark.queries import load_all

    registry = load_all()
    pq = registry["ann_pq_topk"].fn(spark, sf_dir).collect()
    brute = registry["ann_topk_cosine"].fn(spark, sf_dir).collect()
    pq_by_q: dict[int, set[int]] = {}
    for r in pq:
        pq_by_q.setdefault(r.q_id, set()).add(r.n_id)
    true_by_q: dict[int, set[int]] = {}
    for r in brute:
        if r.rnk <= 3:
            true_by_q.setdefault(r.q_id, set()).add(r.n_id)
    assert set(pq_by_q) == set(true_by_q)
    overlaps = [
        len(pq_by_q[q] & true_by_q[q]) for q in sorted(true_by_q)
    ]
    assert all(len(v) == 3 for v in pq_by_q.values())
    # ADC shortlist + exact rerank: measured recall@3 is 0.97-1.0 on
    # this corpus (see pq_topk docstring); 0.8 is the alarm floor.
    assert sum(overlaps) / (3 * len(overlaps)) >= 0.8, overlaps


def test_pca_projection_matches_numpy(spark, sf_dir):
    """embedding_pca_project must reproduce numpy's full-precision PCA
    (projection onto top-2 eigenvectors of the covariance, canonical
    sign) to 1e-4, and PC1 must carry >= PC2 variance."""
    import numpy as np

    from distributed_system_spark.queries import load_all

    got = {
        r.id: (r.pc1, r.pc2)
        for r in load_all()["embedding_pca_project"].fn(spark, sf_dir).collect()
    }
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = [r.vec_id for r in emb]
    X = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    mu = X.mean(axis=0)
    cov = np.cov(X.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:2]
    top = evecs[:, order]
    for k in range(2):
        nz = np.nonzero(np.abs(top[:, k]) > 1e-12)[0]
        if len(nz) and top[nz[0], k] < 0:
            top[:, k] = -top[:, k]
    want = (X - mu) @ top
    for i, vid in enumerate(ids):
        assert got[vid][0] == pytest.approx(want[i, 0], abs=1e-4)
        assert got[vid][1] == pytest.approx(want[i, 1], abs=1e-4)
    # Variance ordering: PC1 explains at least as much as PC2.
    arr = np.array([got[v] for v in ids])
    assert arr[:, 0].var() >= arr[:, 1].var() - 1e-9


def test_adaptive_cell_split_engages_and_matches_oracle(spark, tmp_path):
    """The second-level cell split (similarity_q._assign_adaptive_cells)
    never fires on the driver's test corpora — their coarse cells all
    sit under _SPLIT_CAP — so this test plants a 300-vector blob that
    lands 270 rows in one 3-bit coarse cell (seed frozen after a
    numpy-mirror search) and checks, through the REAL Spark query and
    the REAL DuckDB oracle at that corpus:

    1. engagement — some emitted cluster id >= 2^bits, impossible
       unless a coarse cell was re-split by extra planes;
    2. cross-engine parity on the ENGAGED path — semdedup_pairs and
       hard_negative_mining match their oracles row-for-row (the
       integer threshold ladder and signature modulus must derive
       identical widths in both engines).
    """
    import duckdb
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_system_spark.queries import load_all

    rng = np.random.default_rng(12)
    center = rng.normal(size=64)
    blob = center[None, :] + 0.35 * rng.normal(size=(300, 64))
    rest = rng.normal(size=(260, 64))
    mat = np.vstack([blob, rest]).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(mat)), type=pa.int64()),
            "embedding": pa.array(
                [list(map(float, r)) for r in mat],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(
                [int(i % 5) for i in range(len(mat))], type=pa.int32()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    registry = load_all()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet'"
    )

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    sd = registry["semdedup_pairs"].fn(spark, str(tmp_path)).toPandas()
    # bits = 3 for 560 vectors: any cluster id >= 8 proves a re-split.
    assert sd["cluster"].max() >= 8, sorted(sd["cluster"].unique())
    # label_noise_knn is included so its post-r6 changes (prune_topk=5
    # + the second-level split) carry an in-repo oracle check on the
    # engaged-split path, not just the r6 external-window tier.
    for name in (
        "semdedup_pairs",
        "hard_negative_mining",
        "label_noise_knn",
    ):
        got = canon(registry[name].fn(spark, str(tmp_path)).toPandas())
        want = canon(con.execute(registry[name].oracle).df())
        pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_topk_prune_is_exact_superset_of_rounded_ranking(spark, sf_dir):
    """_cell_pair_dots(prune_topk=5) must yield EXACTLY the same
    mutual-kNN edges as the unpruned pair set under the identical
    JVM round/rank/mutuality pipeline — the 2e-6 raw-cosine margin
    is proven to cover the 6-decimal rounding displacement, and this
    test checks the proof against the engine on a corpus where
    pruning genuinely engages (sf0.01 cells hold ~50 rows >> 6)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_system_spark.queries.similarity_q import (
        _assign_adaptive_cells,
        _cell_pair_dots,
    )
    from distributed_system_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    m = _assign_adaptive_cells(e).select(
        F.col("cluster").cast("long").alias("cluster"),
        "vec_id",
        "v",
        "nrm",
    )

    def edges(pairs):
        p = pairs.select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot") / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
        w = Window.partitionBy("id_a").orderBy(
            F.col("cos").desc(), "id_b"
        )
        top = (
            p.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("id_a", "id_b", "cos")
        )
        rev = top.select(
            F.col("id_a").alias("id_b"), F.col("id_b").alias("id_a")
        )
        return top.join(rev, ["id_a", "id_b"]).filter(
            F.col("id_a") < F.col("id_b")
        )

    full = _cell_pair_dots(m, with_labels=False)
    pruned = _cell_pair_dots(m, with_labels=False, prune_topk=5)
    n_full = full.count()
    n_pruned = pruned.count()
    assert n_pruned < n_full, (n_pruned, n_full)  # pruning engaged

    got_full = {tuple(r) for r in edges(full).collect()}
    got_pruned = {tuple(r) for r in edges(pruned).collect()}
    assert got_pruned == got_full
    assert got_full  # non-vacuous: the corpus has mutual edges


def test_lsh_neardup_adaptive_planted_twin_recall(spark, sf_dir):
    """Tolerance-based recall arbiter for the adaptive near-dup gate
    (ADVICE r8): every planted twin (id % 37 == 0, twin id -(id+1),
    cos ~0.977 >= the 0.95 threshold) must be recovered with recall
    >= 0.999.  The driver's exact-equality oracle can in principle go
    red on a within-bound probabilistic miss after a corpus change;
    this test is the pinned judgment call — recall inside the
    analytic bound means re-derive the width, not a plan defect."""
    from distributed_system_spark.queries import load_all

    reg = load_all()
    got = {
        (r.id_a, r.id_b)
        for r in reg["lsh_neardup_adaptive"].fn(spark, sf_dir).collect()
    }
    base_ids = [
        r.vec_id
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .collect()
    ]
    want = {(-(i + 1), i) for i in base_ids if i % 37 == 0}
    assert want, "corpus too small to plant twins"
    found = want & got
    recall = len(found) / len(want)
    assert recall >= 0.999, (len(found), len(want))


def test_capped_candidates_keep_planted_dups(spark, sf_dir):
    """The bucket-occupancy safety valve (lsh_candidate_pairs
    max_bucket): on the CONTROLLED corpus — large vocabulary, planted
    clones whose buckets hold ~2 docs — the cap never binds, so the
    capped candidate set equals the uncapped one and every planted
    (source, clone) collision survives: ZERO recall cost at a sane
    dup rate.  On the RAW degenerate corpus the cap must actually
    bind, cutting candidates by a large factor — the round-8 OOD mode
    (2.1B collisions at 5M docs) becomes bounded behavior."""
    from distributed_system_spark.operators.dedup import (
        doc_tokens,
        lsh_band_signatures,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from distributed_system_spark.queries.dedup_q import (
        _BUCKET_CAP,
        _CTRL_CLONE_OFFSET,
        _ctrl_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")

    def pairs(corpus, cap):
        bands = lsh_band_signatures(
            minhash_signatures(doc_tokens(corpus), 8), 2
        )
        return {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(bands, max_bucket=cap).collect()
        }

    # controlled corpus: cap is a no-op, planted collisions intact
    ctrl = _ctrl_corpus(docs)
    uncapped = pairs(ctrl, None)
    capped = pairs(ctrl, _BUCKET_CAP)
    assert capped == uncapped
    planted = {
        (i, i + _CTRL_CLONE_OFFSET) for (i, _) in uncapped
    } & uncapped  # planted pairs that collide at all
    assert planted  # non-vacuous
    assert planted <= capped

    # raw degenerate corpus: the cap binds and bounds the join
    raw_uncapped = len(pairs(docs, None))
    raw_capped = len(pairs(docs, _BUCKET_CAP))
    assert raw_capped < raw_uncapped / 2, (raw_capped, raw_uncapped)


def test_simhash_docs_twin_of_explode_form(spark, sf_dir):
    """The vectorized mapInPandas fingerprints (simhash64_docs /
    simhash128_docs) must be BIT-IDENTICAL to the explode-form
    simhash64/simhash128 over doc_tokens — same md5, same majority
    rule, same MSB-first packing (sign bit included) — on the real
    corpus plus an edge-case frame (empty text, repeated tokens,
    multiple spaces, unicode, null text dropped)."""
    from distributed_system_spark.operators.dedup import (
        simhash64_docs,
        simhash128,
        simhash128_docs,
    )
    from distributed_system_spark.sources.tables import load_table

    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, "a a a b"),
            (3, "x  y"),  # double space -> empty token
            (4, "héllo wörld ünïcode"),
            (5, None),
            (6, "a"),
        ],
        "doc_id bigint, text string",
    )
    for docs in (load_table(spark, sf_dir, "documents"), edge):
        want64 = {
            r["id"]: r["simhash"]
            for r in simhash64(doc_tokens(docs)).collect()
        }
        got64 = {
            r["id"]: r["simhash"] for r in simhash64_docs(docs).collect()
        }
        assert got64 == want64
        want128 = {
            r["id"]: (r["sh1"], r["sh0"])
            for r in simhash128(doc_tokens(docs)).collect()
        }
        got128 = {
            r["id"]: (r["sh1"], r["sh0"])
            for r in simhash128_docs(docs).collect()
        }
        assert got128 == want128
    assert 5 not in got64 and 5 not in got128  # null text drops
    assert 1 in got64  # empty text is one empty token, not a drop


def test_jaccard_verify_setdedup_twin(spark, sf_dir):
    """jaccard_verify_setdedup must emit EXACTLY jaccard_verify's
    rows: content keying (md5 of the space-joined sorted token set —
    injective, tokens cannot contain the separator) dedups the
    intersect work per distinct set pair but never changes a verdict
    or a pair's jaccard value."""
    from distributed_system_spark.operators.dedup import (
        jaccard_verify,
        jaccard_verify_setdedup,
        lsh_band_signatures,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from distributed_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = doc_tokens(docs)
    bands = lsh_band_signatures(minhash_signatures(toks, 8), 2)
    cand = lsh_candidate_pairs(bands, max_bucket=64).filter(
        F.col("id_b") >= 400
    )
    want = sorted(map(tuple, jaccard_verify(cand, toks, 0.8).collect()))
    got = sorted(
        map(tuple, jaccard_verify_setdedup(cand, toks, 0.8).collect())
    )
    assert got == want and want


def test_jaccard_verify_materialize_scores_twin(spark, sf_dir):
    """jaccard_verify_sets(materialize_scores=True) must emit EXACTLY
    the lazy form's rows: the checkpointed (id_a, id_b, na, nb, i)
    proxy carries exact integers, so the double division, round, and
    threshold compare see identical operands — the flag only stops
    the pushed-down filter from re-evaluating the per-pair
    array_intersect (guide §4.4's duplicated-evaluation hazard with
    a native expression)."""
    from distributed_system_spark.operators.dedup import (
        doc_token_sets,
        jaccard_verify_sets,
        lsh_candidate_pairs,
        minhash_band_signatures_sets,
    )
    from distributed_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sets_ = doc_token_sets(docs).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    for t in (0.8, 0.5):
        want = sorted(
            map(tuple, jaccard_verify_sets(cand, sets_, t).collect())
        )
        got = sorted(
            map(
                tuple,
                jaccard_verify_sets(
                    cand, sets_, t, materialize_scores=True
                ).collect(),
            )
        )
        assert got == want and want, t


def test_substr_dup_positions_window_twin(spark, sf_dir):
    """_substr_dup_positions (default, r14 window form) must emit
    EXACTLY the groupBy+join-back shape's rows: ``min(doc_id) over
    (partition by h) != max(...)`` is the same appears-in->1-doc test
    — the window form just runs it over ONE h-exchange and ONE
    scan+shingle pass instead of two of each.  The broadcast_hot
    (disk-valved sliced) path keeps the join and must agree too."""
    from distributed_system_spark.queries.dedup_q import (
        _substr_corpus,
        _substr_dup_positions,
        _substr_positions_from_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    _, pos = _substr_positions_from_corpus(_substr_corpus(docs))
    hot = (
        pos.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    want = sorted(
        map(tuple, pos.join(hot, "h").select("doc_id", "j").collect())
    )
    got = sorted(map(tuple, _substr_dup_positions(pos).collect()))
    got_bc = sorted(
        map(tuple, _substr_dup_positions(pos, broadcast_hot=True).collect())
    )
    assert got == want and want
    assert got_bc == want



def test_substr_shingle_hash_never_null(spark, sf_dir):
    """The window form of _substr_dup_positions equals the join form
    only while the shingle hash ``h`` is never null: an inner join on
    h drops null keys, a window over them keeps them.  Pin that on the
    test documents plus the edge texts (null, empty, shorter than one
    shingle, exactly one shingle, empty tokens): every position has a
    hash, and the positions are exactly n - 7 per text of n >= 8
    tokens."""
    from distributed_system_spark.queries.dedup_q import (
        _substr_corpus,
        _substr_dup_positions,
        _substr_positions_from_corpus,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    texts = [None, "", "a b c d e f g", "a b c d e f g h", "a  b   c d e f g h i"]
    edge_ids = [10**9 + 2 + k for k in range(len(texts))]
    edge = spark.createDataFrame(
        list(zip(edge_ids, texts)), "doc_id long, text string"
    )
    t, pos = _substr_positions_from_corpus(
        _substr_corpus(docs.unionByName(edge))
    )
    assert pos.filter(F.col("h").isNull()).count() == 0
    want = t.select(F.sum(F.greatest(F.col("n") - 7, F.lit(0)))).first()[0]
    assert pos.count() == want
    edge_pos = pos.filter(F.col("doc_id") >= edge_ids[0])
    assert sorted((r["doc_id"], r["j"]) for r in edge_pos.collect()) == [
        (i, j)
        for i, text in zip(edge_ids, texts)
        if text is not None
        for j in range(1, len(text.split(" ")) - 6)
    ]
    hot = (
        pos.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    assert sorted(map(tuple, _substr_dup_positions(pos).collect())) == sorted(
        map(tuple, pos.join(hot, "h").select("doc_id", "j").collect())
    )

def test_substring_chains_planted_quote_recall(spark, sf_dir):
    """dedup_substring_chains: every planted doc (doc_id % 10 == 1
    appends tokens 4..18 of its predecessor, 15 tokens at an
    UNALIGNED offset) must report a duplicated span covering >= 15
    tokens — the arbitrary-offset recall the fixed-segment and
    stride-aligned variants miss by construction.  The source doc
    must report coverage too (the shared shingles sit in both)."""
    from distributed_system_spark.queries import load_all

    reg = load_all()
    docs = load_table(spark, sf_dir, "documents")
    n_toks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ", -1)).alias("n")
        ).collect()
    }
    planted = {
        d
        for d in n_toks
        if d % 10 == 1 and (d - 1) in n_toks and n_toks[d - 1] >= 18
    }
    assert planted, "corpus too small to plant"
    out = {
        r.doc_id: r
        for r in reg["dedup_substring_chains"].fn(spark, sf_dir).collect()
    }
    for d in planted:
        assert out[d].n_dup_spans >= 1, d
        assert out[d].covered_tokens >= 15, (d, out[d])
        # the source of the quote shares those shingles
        assert out[d - 1].covered_tokens >= 15, (d - 1, out[d - 1])


def test_pii_checksum_invalid_plants_not_masked(spark, sf_dir):
    """pii_checksum_mask precision: checksum-FAILING lookalikes (odd
    doc_id cards, doc_id % 3 != 0 IBANs) must come back unmasked and
    invalid — the whole point of validating instead of regex-masking
    every 16-digit token — while valid plants are masked to
    last-4-only."""
    from distributed_system_spark.queries import load_all

    reg = load_all()
    rows = reg["pii_checksum_mask"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_cc >= 1 and r.n_iban >= 1
        assert r.cc_valid == (r.doc_id % 2 == 0), r
        assert r.iban_valid == (r.doc_id % 3 == 0), r
        if r.cc_valid:
            assert r.cc_masked.startswith("XXXXXXXXXXXX"), r
            assert len(r.cc_masked) == 16
        else:
            assert "X" not in r.cc_masked and len(r.cc_masked) == 16
        if r.iban_valid:
            assert r.iban_masked.startswith("DE****************"), r
        else:
            assert "*" not in r.iban_masked and len(r.iban_masked) == 22


def test_strip_markup_no_double_decode(spark, sf_dir):
    """text_strip_markup decode order: the planted literal &amp;lt;
    must come out as the four characters '&lt;' (decoded once), never
    '<' (decoded twice) — and all tags are gone."""
    from distributed_system_spark.queries import load_all

    rows = load_all()["text_strip_markup"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert "&lt;raw" in r.clean_text, r.clean_text[-60:]
        assert "<ok>" in r.clean_text  # &lt;ok&gt; decoded once
        assert "Q&A" in r.clean_text  # &amp; decoded
        assert "<b>" not in r.clean_text and "<h1>" not in r.clean_text
        assert r.n_tags >= 4 and r.n_entities >= 4


def test_audio_fingerprint_locality(spark):
    """audio_fingerprint: a lightly edited clip (a few bytes changed)
    lands within a small Hamming distance of the original, while an
    unrelated clip is far — the locality that makes banded bucketing
    meaningful for audio dedup.  Also pins the n>=frames contract
    (short clips emit no row)."""
    from distributed_system_spark.operators.multimodal import (
        audio_fingerprint,
        wav_payloads,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    edited = "THE quick brown fox jumps over the lazy dog " * 4
    other = "zzzz aaaa " * 3 + "m" * 140
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other), (4, "tiny")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r.afp
        for r in audio_fingerprint(wav_payloads(docs)).collect()
    }
    assert 4 not in out  # shorter than 32 samples -> no fingerprint
    ham_edit = bin(out[1] ^ out[2]).count("1")
    ham_other = bin(out[1] ^ out[3]).count("1")
    assert ham_edit <= 6, (ham_edit, ham_other)
    assert ham_other > ham_edit, (ham_edit, ham_other)


def test_aug_word_dropout_deterministic_and_rate(spark, sf_dir):
    """The dropout mask is a pure function of (doc_id, position):
    two runs regenerate byte-identical augmented text, the kept token
    count equals the augmented text's token count, and the corpus
    dropout rate sits near the designed 1/16."""
    from distributed_system_spark.queries.text_q import aug_word_dropout

    a = aug_word_dropout(spark, sf_dir).orderBy("doc_id").collect()
    b = aug_word_dropout(spark, sf_dir).orderBy("doc_id").collect()
    assert [r["aug_text"] for r in a] == [r["aug_text"] for r in b]
    tot = sum(r["n_tokens"] for r in a)
    kept = sum(r["n_kept"] for r in a)
    for r in a[:50]:
        n = len(r["aug_text"].split(" ")) if r["aug_text"] else 0
        assert n == r["n_kept"], r
    rate = (tot - kept) / tot
    assert 0.03 < rate < 0.10, rate  # designed 1/16 = 0.0625


def test_dsir_selection_pulls_toward_target_domain(spark, sf_dir):
    """DSIR's whole point: importance selection over-represents the
    target domain (lang='en') relative to the raw pool."""
    from distributed_system_spark.queries.text_q import dataset_dsir_select
    from distributed_system_spark.sources.tables import load_table as lt

    docs = lt(spark, sf_dir, "documents").select("doc_id", "lang")
    sel = dataset_dsir_select(spark, sf_dir).join(docs, "doc_id")
    n_sel = sel.count()
    en_sel = sel.filter(F.col("lang") == "en").count()
    n_all = docs.count()
    en_all = docs.filter(F.col("lang") == "en").count()
    assert n_sel == 100
    assert en_sel / n_sel > en_all / n_all, (en_sel, n_sel, en_all, n_all)


def test_blocklist_partition_of_corpus(spark, sf_dir):
    """Blocked (distinct) + kept partitions the corpus exactly, and a
    python-side md5 recomputation of the first hosts agrees with the
    engine's blocking decisions."""
    import hashlib

    from distributed_system_spark.queries.text_q import (
        _BLOCK_RULES,
        domain_blocklist_filter,
    )
    from distributed_system_spark.sources.tables import load_table as lt

    rows = {r["rule"]: r for r in domain_blocklist_filter(spark, sf_dir).collect()}
    docs = [r["doc_id"] for r in lt(spark, sf_dir, "documents").select("doc_id").collect()]

    def host(doc_id: int) -> str:
        m = hashlib.md5(str(doc_id).encode()).hexdigest()
        tld = ["com", "org", "net", "io"][(int(m[2], 16)) % 4]
        return f"w{m[0]}.d{m[1]}.{tld}"

    blocked = set()
    per_rule = {r: 0 for r in _BLOCK_RULES}
    for d in docs:
        h = host(d)
        sufs = {h, h.split(".", 1)[1], h.rsplit(".", 1)[1]}
        for r in _BLOCK_RULES:
            if r in sufs:
                per_rule[r] += 1
                blocked.add(d)
    for r, n in per_rule.items():
        got = rows[r]["n_docs"] if r in rows else 0
        assert got == n, (r, got, n)
    assert rows["(kept)"]["n_docs"] == len(docs) - len(blocked)


def test_group_kfold_no_pair_straddles_folds(spark, sf_dir):
    """The guarantee the operator exists for: every certified near-dup
    pair (exact Jaccard >= 0.8 on LSH candidates) lands in ONE fold,
    and the per-fold group/doc counts reconcile."""
    from distributed_system_spark.operators.dedup import (
        connected_components,
    )
    from distributed_system_spark.queries.dedup_q import (
        dataset_group_kfold,
    )
    from distributed_system_spark.sources.tables import load_table as lt

    docs = lt(spark, sf_dir, "documents")
    toks = doc_tokens(docs).cache()
    cand = lsh_candidate_pairs(
        lsh_band_signatures(minhash_signatures(toks, num_hashes=8), 2)
    )
    pairs = jaccard_verify(cand, toks, 0.8)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(
        edges, docs.select(F.col("doc_id").alias("id"))
    )
    fold = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.col("comp").cast("string").cast("binary")), 1, 1
            ),
        )
        - 1
    ).cast("long") % 5
    assign = cc.select("id", "comp", fold.alias("fold")).cache()
    # every pair shares a fold
    a = assign.select(
        F.col("id").alias("id_a"), F.col("fold").alias("fold_a")
    )
    b = assign.select(
        F.col("id").alias("id_b"), F.col("fold").alias("fold_b")
    )
    straddle = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(F.col("fold_a") != F.col("fold_b"))
        .count()
    )
    assert straddle == 0
    # report reconciles with the assignment
    rep = {r["fold"]: r for r in dataset_group_kfold(spark, sf_dir).collect()}
    per_fold = {
        r["fold"]: r["n"]
        for r in assign.groupBy("fold").agg(F.count("*").alias("n")).collect()
    }
    assert {f: rep[f]["n_docs"] for f in rep} == per_fold
    assert sum(r["n_docs"] for r in rep.values()) == docs.count()


def test_contamination_fuzzy_sides_and_threshold(spark, sf_dir):
    """Every emitted pair crosses the split boundary in the right
    direction (test_doc in test, train_doc in train) and clears the
    0.7 verify threshold."""
    from distributed_system_spark.queries.dedup_q import (
        contamination_fuzzy,
    )
    from distributed_system_spark.sources.tables import load_table as lt

    docs = lt(spark, sf_dir, "documents")
    b2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(b2 < "cd", "train").when(b2 < "e6", "val").otherwise("test")
    )
    sp = {r["doc_id"]: r["s"] for r in docs.select("doc_id", split.alias("s")).collect()}
    rows = contamination_fuzzy(spark, sf_dir).collect()
    assert rows, "degenerate corpus must surface cross-split near-dups"
    for r in rows:
        assert sp[r["test_doc"]] == "test", r
        assert sp[r["train_doc"]] == "train", r
        assert r["jaccard"] >= 0.7, r


def test_curriculum_phases_partition_and_order(spark, sf_dir):
    """Phases partition the corpus into near-thirds with
    non-overlapping, increasing score ranges."""
    from distributed_system_spark.queries.text_q import (
        dataset_curriculum_phases,
    )
    from distributed_system_spark.sources.tables import load_table as lt

    rows = sorted(
        dataset_curriculum_phases(spark, sf_dir).collect(),
        key=lambda r: r["phase"],
    )
    n_docs = lt(spark, sf_dir, "documents").count()
    assert [r["phase"] for r in rows] == [1, 2, 3]
    assert sum(r["n_docs"] for r in rows) == n_docs
    for a, b in zip(rows, rows[1:]):
        assert a["max_score"] < b["min_score"], (a, b)
    # near-thirds: each phase within one score-value granularity of
    # n/3 — the corpus has ties, so allow a generous band
    for r in rows:
        assert 0.15 * n_docs < r["n_docs"] < 0.55 * n_docs, r


def test_minhash_band_docs_twin_bit_identical(spark, sf_dir):
    """The shuffle-free band build equals the explode→groupBy build
    bit-for-bit on the real corpus (including empty/one-token docs) —
    the invariant that keeps every minhash oracle AND the standing
    streaming signature index valid across the switch."""
    from distributed_system_spark.operators.dedup import (
        lsh_band_signatures,
        minhash_band_signatures_docs,
        minhash_signatures,
    )
    from distributed_system_spark.sources.tables import load_table as lt

    docs = lt(spark, sf_dir, "documents")
    old = lsh_band_signatures(
        minhash_signatures(doc_tokens(docs), num_hashes=8), rows_per_band=2
    )
    new = minhash_band_signatures_docs(docs)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_minhash_band_sets_twin_bit_identical(spark, sf_dir):
    """Bands derived from the doc_token_sets table equal the
    straight-from-documents build bit-for-bit — min over the sorted
    DISTINCT token array is the same minhash as min over the
    original-order tokens, the invariant that lets every LSH query
    tokenize the corpus ONCE (r13: the set table feeds both the band
    build and the verify joins).  Also pins the 16-hash/4-row
    composition minhash_calibration now builds map-side."""
    from distributed_system_spark.operators.dedup import (
        doc_token_sets,
        lsh_band_signatures,
        minhash_band_signatures_docs,
        minhash_band_signatures_sets,
        minhash_signatures,
    )
    from distributed_system_spark.sources.tables import load_table as lt

    docs = lt(spark, sf_dir, "documents")
    sets_ = doc_token_sets(docs)
    old = minhash_band_signatures_docs(docs)
    new = minhash_band_signatures_sets(sets_)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    # 16-hash / 4-rows-per-band geometry (the calibration query's)
    old16 = lsh_band_signatures(
        minhash_signatures(doc_tokens(docs), num_hashes=16),
        rows_per_band=4,
    )
    new16 = minhash_band_signatures_sets(
        sets_, num_hashes=16, rows_per_band=4
    )
    assert old16.exceptAll(new16).count() == 0
    assert new16.exceptAll(old16).count() == 0


def test_minhash_band_docs_drops_null_text(spark):
    """Null-text docs emit NO band rows — matching the explode build
    (explode of a null array emits nothing).  Without the up-front
    filter the expression build would emit md5-of-empty-string sigs
    that collide every null-text doc into one standing-index bucket
    (r10 ADVICE item)."""
    from distributed_system_spark.operators.dedup import (
        minhash_band_signatures_docs,
    )

    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma"), ("d2", None), ("d3", None)],
        "doc_id string, text string",
    )
    out = minhash_band_signatures_docs(docs)
    ids = {r["id"] for r in out.collect()}
    assert ids == {"d1"}


def test_band_build_quotes_column_names(spark, sf_dir):
    """The band build is SQL text, so it quotes its column names: a
    backtick or a dot in a name selects that column, it never ends
    the identifier or reaches into a struct."""
    from distributed_system_spark.operators.dedup import (
        _bands_from_token_array,
        doc_token_sets,
        minhash_band_signatures_sets,
    )
    from distributed_system_spark.sources.tables import load_table as lt

    sets_ = doc_token_sets(lt(spark, sf_dir, "documents"))
    odd = sets_.toDF("doc`id", "tok.set`")
    want = minhash_band_signatures_sets(sets_)
    got = _bands_from_token_array(odd, "doc`id", "tok.set`", 8, 2)
    assert got.schema == want.schema
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_sliced_forms_equal_one_shot(spark):
    """The round-11 disk-bounded *_sliced variants must equal their
    one-shot twins EXACTLY on the sf0.01 corpus (10x the oracle
    fixture; exercises multi-bucket slicing and the broadcast-hot
    path on real duplicate mass)."""
    from distributed_system_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.01"
    for one_shot, sliced in (
        ("dedup_substring_chains", "dedup_substring_chains_sliced"),
        ("dedup_incremental_capped", "dedup_incremental_capped_sliced"),
    ):
        a = reg[one_shot].fn(spark, sf)
        b = reg[sliced].fn(spark, sf)
        assert a.exceptAll(b).count() == 0, (one_shot, sliced)
        assert b.exceptAll(a).count() == 0, (one_shot, sliced)


@pytest.mark.parametrize("k", [1, 3, 5, 8])
def test_sliced_forms_equal_one_shot_awkward_k(spark, k, monkeypatch):
    """Slicing invariant at K values that do NOT divide the 256-value
    bucket space evenly (r11 verdict item #5): the builder already hit
    one K-geometry bug (a single-hex-digit bucket key capped K at 16
    and made K=12's bucket 0 double-width, SCALE.md), so the
    sliced == one-shot equality is pinned across awkward K — K=1
    (degenerate single slice), K=3 and K=5 (256 % K != 0), K=8 — for
    BOTH disk-bounded families at sf0.001."""
    from distributed_system_spark.queries import dedup_q, load_all

    monkeypatch.setattr(dedup_q, "_SLICES", k)
    reg = load_all()
    sf = "/root/testdata/sf0.001"
    for one_shot, sliced in (
        ("dedup_substring_chains", "dedup_substring_chains_sliced"),
        ("dedup_incremental_capped", "dedup_incremental_capped_sliced"),
    ):
        a = reg[one_shot].fn(spark, sf)
        b = reg[sliced].fn(spark, sf)
        assert a.exceptAll(b).count() == 0, (one_shot, sliced, k)
        assert b.exceptAll(a).count() == 0, (one_shot, sliced, k)


@pytest.mark.parametrize(
    "name", ["contamination_incr", "ann_index_upsert", "kv_format_scan"]
)
def test_rebuilt_staged_query_keeps_earlier_frame_readable(spark, sf_dir, name):
    """Each build of a staged form gets its own staging root: building
    the query again must not delete or overwrite the pieces the first,
    still lazy, frame reads."""
    from distributed_system_spark.queries import load_all

    fn = load_all()[name].fn
    first = fn(spark, sf_dir)
    n = first.count()  # plans the frame's reads before the rebuild
    assert fn(spark, sf_dir).count() == n
    assert first.count() == n


def test_substring_incr_equals_one_shot_restricted(spark):
    """The standing-index substring form (r11 verdict item #6) must
    equal the from-scratch chain report restricted to the new docs
    (doc_id >= 400) — incremental-maintenance == full-rebuild, the
    ann_index_upsert certificate — and its staged batch positions
    must contain NO history rows (history is never re-shingled; only
    its day-0 (h, mn, mx) frequency piece persists)."""
    from distributed_system_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    a = reg["dedup_substring_chains"].fn(spark, sf).filter("doc_id >= 400")
    b = reg["dedup_substring_chains_incr"].fn(spark, sf)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # THIS build's staging root, read off the frame — a glob could
    # pick up the root of an earlier build in this process
    root = _staging_root_of(b, "substr-incr")
    staged = spark.read.parquet(f"{root}/pos")
    assert staged.filter("doc_id < 400").count() == 0


def test_contamination_incr_equals_one_shot(spark):
    """The standing eval-set decontamination index must equal the
    one-shot contamination_check exactly (shared oracle, shared
    answer): mergeable train-gram counts make merge-time suppression
    == one-shot suppression, and each train doc's grams land in
    exactly one batch piece.  Also pins the standing-index
    discipline: the staged eval index contains only test-split docs,
    and the staged train grams contain no test/val docs."""
    from distributed_system_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    a = reg["contamination_check"].fn(spark, sf)
    b = reg["contamination_incr"].fn(spark, sf)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # this build's root (not a glob) — see
    # test_substring_incr_equals_one_shot_restricted
    root = _staging_root_of(b, "contam-incr")
    eval_docs = {
        r["test_doc"]
        for r in spark.read.parquet(f"{root}/eval_index")
        .select("test_doc")
        .distinct()
        .collect()
    }
    train_docs = {
        r["train_doc"]
        for r in spark.read.parquet(f"{root}/grams")
        .select("train_doc")
        .distinct()
        .collect()
    }
    assert eval_docs and train_docs and not (eval_docs & train_docs)


@pytest.mark.parametrize("cut", ["1", "100", "499"])
def test_contamination_incr_batch_boundary_invariance(
    spark, cut, monkeypatch
):
    """The standing-index answer must be INDEPENDENT of where the
    train arrivals are cut into batches (mergeable counts + unioned
    hits): pinned at a degenerate first batch (cut=1), an uneven cut
    (100), and a degenerate last batch (499)."""
    from distributed_system_spark.queries import load_all, text_q

    monkeypatch.setattr(text_q, "_CONTAM_CUTS", (int(cut),))
    reg = load_all()
    sf = "/root/testdata/sf0.001"
    a = reg["contamination_check"].fn(spark, sf)
    b = reg["contamination_incr"].fn(spark, sf)
    assert a.exceptAll(b).count() == 0, cut
    assert b.exceptAll(a).count() == 0, cut


def test_contamination_incr_multicut_and_dropped_grams(spark, monkeypatch):
    """A multi-cut geometry (4 batches, awkward boundaries) must
    still equal the one-shot contamination_check — mergeable counts
    + unioned hits are cut-count-insensitive — and lay down one
    frequency piece per batch."""
    import os

    from distributed_system_spark.queries import load_all, text_q

    monkeypatch.setattr(text_q, "_CONTAM_CUTS", (100, 250, 400))
    reg = load_all()
    sf = "/root/testdata/sf0.001"
    a = reg["contamination_check"].fn(spark, sf)
    b = reg["contamination_incr"].fn(spark, sf)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    root = _staging_root_of(b, "contam-incr")
    assert sorted(os.listdir(f"{root}/freq")) == [
        f"day={d}" for d in "1234"
    ]

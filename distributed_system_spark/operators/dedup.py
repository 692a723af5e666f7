"""Deduplication operators for LLM-training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, and SimHash.

The reference has no dedup (its only workload is word count); these
are the driver-mandated LLM-pipeline extensions (SURVEY.md §2.C),
designed Spark-first:

- Everything is Column expressions / relational joins — the pipeline
  stays in whole-stage codegen — with ONE deliberate exception: the
  SimHash fingerprint stage (``simhash64_docs``/``simhash128_docs``)
  runs as an Arrow-batched numpy ``mapInPandas`` pass, because the
  relational formulation explodes tokens × digits through two
  shuffles (~5 B rows at the 5 M-doc decade) while the vectorized
  map is shuffle-free and bit-identical (round-10, twin-tested).
- All hashing is md5 over UTF-8 strings, which is bit-identical in
  every engine — so even the MinHash/LSH pipeline is fully
  oracle-checkable against DuckDB (an engine-native hash would not
  be).
- **Never all-pairs.** Candidate pairs come only from LSH band
  buckets (minhash) or the prefix-filtered inverted index (exact
  Jaccard, ``prefix_index``): tokens sorted by global frequency,
  only each doc's ``n - ceil(t*n) + 1`` rarest indexed — lossless
  for J >= t and bounds every posting list.

Scale shape of MinHash-LSH at 100 TB: (doc × token) explode is a
flatMap (no shuffle); signatures are one groupBy per (doc, seed) —
partial aggregation applies since min() is algebraic; band buckets
shuffle by (band, sig) which is uniformly distributed by construction
(md5), so no skew; the verify join touches only candidate pairs,
which LSH keeps near-linear in the number of true duplicates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from distributed_system_spark.sources.tables import widen_if_narrow


def _text_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def doc_tokens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, tok) rows, one per DISTINCT token per doc (set semantics,
    the usual Jaccard basis). flatMap-shaped: no shuffle on any
    realistic layout — widen_if_narrow is a no-op when the scan
    splits to >= cores and only fires on single-row-group test files,
    where the tokenize/md5-minhash map stage would otherwise run on
    one core."""
    docs = widen_if_narrow(docs)
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(_text_col(text_col), " ", -1))).alias(
            "tok"
        ),
    )


def minhash_signatures(
    toks: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """(id, seed, mh) minhash signatures over md5(seed ':' tok).

    md5 is engine-portable, so the exact signature is reproducible in
    any SQL engine — the property that makes LSH oracle-checkable.
    One groupBy; min() combines map-side.
    """
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    return (
        toks.select("id", "tok", seeds)
        .select(
            "id",
            "seed",
            F.md5(
                F.concat(F.col("seed").cast("string"), F.lit(":"), "tok").cast(
                    "binary"
                )
            ).alias("h"),
        )
        .groupBy("id", "seed")
        .agg(F.min("h").alias("mh"))
    )


def minhash_band_signatures_docs(
    docs: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, band, sig) LSH band signatures straight from documents —
    bit-identical to ``lsh_band_signatures(minhash_signatures(
    doc_tokens(docs)))`` with ZERO shuffles (twin-tested).

    The explode→groupBy build shuffles num_hashes × |tokens| rows
    TWICE (signature min, then band agg) — ~8 B rows at the 50 M-doc
    fifth decade, the same corpus-sized-shuffle class that put
    dedup_substring_chains out of disk there.  Here each per-seed
    minhash is a per-row ``array_min(transform(tokens, md5(seed:tok)))``
    expression and each band signature folds its seeds' minhashes in
    seed order — all inside whole-stage codegen, one scan, nothing
    wider than (id, band, sig) ever leaves the map side.  The md5
    composition is unchanged, so every oracle (and the standing
    signature indexes) stays green: Spark's string array_min, the
    groupBy min(), and DuckDB's min() all order lowercase-hex md5
    identically (ASCII byte order).

    Same pattern as ``simhash128_docs`` replacing the digit explode
    (round-10's first scale headline) — the MinHash family's turn.

    Null-text docs are filtered out up front: the explode build drops
    them naturally (explode of a null array emits nothing), and without
    the guard this build would emit band rows whose sig is md5 of an
    empty concat_ws — spurious buckets that would collide every
    null-text doc in a standing signature index (r10 ADVICE item).
    The filter keeps the twin equivalence exact on ANY input.
    """
    docs = widen_if_narrow(docs).filter(F.col(text_col).isNotNull())
    # Project the token array ONCE before the seed mins reference it:
    # inlined, the 8 per-seed expressions each re-evaluate
    # split+array_distinct (Catalyst's CollapseProject keeps this
    # projection because the producer is non-cheap and multiply used).
    # Measured at sf0.1: 0.90 -> 0.74 s for the band build alone —
    # the small-SF constant the round-10-B switch regressed
    # (dedup_incremental_capped 2.33 -> 3.58 s, the r10 flagged
    # regression).  Output is bit-identical (twin-tested).
    docs = docs.select(
        F.col(id_col),
        F.array_distinct(F.split(F.col(text_col), " ", -1)).alias("__toks"),
    )
    return _bands_from_token_array(
        docs, id_col, "__toks", num_hashes, rows_per_band
    )


def minhash_band_signatures_sets(
    sets_: DataFrame, num_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """(id, band, sig) LSH band signatures derived from a prebuilt
    ``doc_token_sets`` (id, ts) table — bit-identical to
    ``minhash_band_signatures_docs`` over the same docs (twin-tested):
    each per-seed minhash is ``array_min`` over md5 of the DISTINCT
    tokens, and min over a set is order-independent, so the sorted
    ``ts`` array yields the exact signature the original-order token
    array does.

    Why it exists (r13, guide §1.2 "remove unnecessary passes"): every
    LSH query needs BOTH the band table and the verify token sets, and
    building them independently tokenizes the corpus twice — two full
    scans + split + array_distinct over every document.  Deriving the
    bands from the (checkpointed) set table makes tokenization a
    single pass; only the 8-md5-per-token minhash arithmetic remains
    band-specific.  At 100 TB that deletes one complete corpus read."""
    return _bands_from_token_array(sets_, "id", "ts", num_hashes, rows_per_band)


def _bands_from_token_array(
    df: DataFrame,
    id_col: str,
    toks_col: str,
    num_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    """Shared band-expression body over a (id, token-array) row.

    The whole band build is ONE SQL string, not a tree of Column
    objects: every PySpark Column call is at least one py4j round trip
    to the JVM, and the Column form (num_hashes per-seed
    ``array_min(transform(...))`` terms with Python-lambda bodies,
    plus a struct per band) cost 472 of them, a median 136 ms per
    build against 7 and 24 ms for the string (8 hashes, 2 rows per
    band, 4-core host) — paid on every LSH query and every streaming
    signature-index batch.  The string holds only seed numbers, band
    numbers and the quoted column names, never data; a backtick in a
    name is escaped by doubling."""

    def ident(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    mh = [
        f"array_min(transform({ident(toks_col)}, "
        f"t -> md5(cast(concat('{s}:', t) AS BINARY))))"
        for s in range(num_hashes)
    ]
    bands = ", ".join(
        f"named_struct('band', {b}, 'sig', md5(cast(concat_ws(',', "
        + ", ".join(mh[b * rows_per_band : (b + 1) * rows_per_band])
        + ") AS BINARY)))"
        for b in range(num_hashes // rows_per_band)
    )
    return df.selectExpr(f"{ident(id_col)} AS id", f"inline(array({bands}))")


def lsh_band_signatures(sigs: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """(id, band, sig): hash each band's minhash run to one signature.

    With b bands of r rows, the candidate probability for similarity s
    is 1-(1-s^r)^b — the standard S-curve (b=4, r=2 → 98% at s=0.8).
    """
    band = (F.col("seed") / rows_per_band).cast("int").alias("band")
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"]
    )
    return (
        sigs.select("id", band, "mh", "seed")
        .groupBy("id", "band")
        .agg(F.md5(F.concat_ws(",", ordered).cast("binary")).alias("sig"))
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """(id_a, id_b) pairs sharing at least one band bucket.

    Self-join on (band, sig): touches only colliding docs, never
    all-pairs. Bucket sizes are balanced because sig is md5 — on a
    corpus whose near-dup clusters are small.  A DEGENERATE corpus
    (boilerplate, templated spam, the raw synthetic table's 31-word
    vocabulary) concentrates thousands of TRUE near-dups into single
    buckets, and the join's sum-of-bucket² work then explodes with
    the data, not the plan (measured: 2.1 B band collisions at 5 M
    docs, SCALE.md round-8).

    ``max_bucket`` is the production safety valve for that mode —
    the same move as ``contamination_check``'s suppressed->100-
    train-doc 8-gram rule: buckets with occupancy > max_bucket are
    DROPPED before the join, bounding per-bucket work at
    max_bucket² and total candidates at ~|buckets| x max_bucket².
    The trade is recall on exactly the documents that sit in
    degenerate clusters (each member still has every OTHER band to
    collide in — only pairs whose every shared band is hot are
    lost); the planted-clone corpus quantifies it in
    tests/test_llm_ops.py::test_capped_candidates_keep_planted_dups.
    Hot buckets are found with a partial-aggregated groupBy (tiny
    output) and removed via a broadcast anti-join — no extra
    full-data shuffle.

    The band table is MATERIALIZED once (localCheckpoint) before any
    consumer references it: the self-join's two sides — plus, under
    ``max_bucket``, the occupancy groupBy and the anti-join — are 2-4
    separate consumers of the same subtree, and Spark re-executes the
    whole upstream (scan + the 8-md5-per-token band build) for each
    (no ReusedExchange fires across these differently-aliased
    branches; measured in plans/r13).  The table is narrow (~4 rows x
    50 B per doc — orders of magnitude below the corpus it derives
    from), so caching it beats recomputing the signature pass 2-4x at
    every scale (guide §2.4 "two operations keyed the same way share
    one exchange" generalized to sharing the map stage).
    """
    bands = bands.localCheckpoint()
    if max_bucket is not None:
        hot = (
            bands.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") > max_bucket)
            .select("band", "sig")
        )
        bands = bands.join(
            F.broadcast(hot), ["band", "sig"], "left_anti"
        )
    a = bands.select(
        F.col("band").alias("b"), F.col("sig").alias("s"), F.col("id").alias("id_a")
    )
    b = bands.select(
        F.col("band").alias("b"), F.col("sig").alias("s"), F.col("id").alias("id_b")
    )
    return (
        a.join(b, ["b", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, toks: DataFrame, threshold: float
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs; keep >= threshold.

    Each side of a pair fetches the doc's whole (sorted) token ARRAY —
    one row per doc per side — and the intersection is a JVM-side
    ``array_intersect`` inside codegen.  This beats the older
    explode-and-join form (pairs ⋈ (id, tok) on both sides, then a
    count groupBy) by a factor of the mean token count: the exploded
    join materializes |pairs| × |A∩B| rows plus a shuffle to re-group
    them, where this shape stays at exactly |pairs| rows and drops
    the extra groupBy shuffle entirely (measured: the sf0.1
    10.6M-candidate generate+verify chain went 55 s → 19 s).  Token arrays are bounded by
    per-doc distinct-token counts — curation corpora cap document
    length long before an array strains a row.  Only candidate pairs
    are touched either way.

    Before the (hash-set-building) ``array_intersect`` runs, pairs
    are pruned by the LENGTH FILTER of the set-similarity-join
    literature (Bayardo et al., WWW'07): J(A,B) >= t implies
    min(|A|,|B|) >= t * max(|A|,|B|), so a size-ratio check on the
    two (already-fetched) array sizes is a necessary condition and
    skips the intersect for every pair that cannot possibly verify
    (42% of the sf0.1 raw-corpus candidates).  The bound is applied
    as an exact integer-rational compare, relaxed by 1e-6 so pairs
    inside the round-to-6-decimals acceptance band (jaccard in
    [t - 5e-7, t)) are never clipped — output is identical to the
    unfiltered form.  (A stronger variant — first-band-wins pair
    emission carrying per-doc signature arrays through the band join
    to delete the candidate distinct() — was measured 5x SLOWER at
    sf0.1: the per-collision array traffic and per-row array
    expressions cost far more than the 23.5M-row distinct they
    replaced, so the distinct stays.)
    """
    sets_ = toks.groupBy("id").agg(
        F.sort_array(F.collect_set("tok")).alias("ts")
    )
    return jaccard_verify_sets(pairs, sets_, threshold)



def jaccard_verify_sets(
    pairs: DataFrame,
    sets_: DataFrame,
    threshold: float,
    materialize_scores: bool = False,
) -> DataFrame:
    """Body of :func:`jaccard_verify` over a prebuilt (id, ts)
    sorted-distinct-token-array table (``doc_token_sets`` output or
    the groupBy-built twin).

    ``materialize_scores`` — set it at call sites whose OUTPUT keeps
    the ``jaccard`` column (dedup_minhash_lsh/_ctrl/_shingles,
    contamination_fuzzy).  Why it exists (r13, guide §4.4's hazard
    with a native expression): the ``jaccard >= threshold`` filter is
    pushed below the projection that computes ``jaccard``, so the
    per-pair ``array_intersect`` evaluates TWICE — once in the pushed
    Filter over every candidate and again in the Project over the
    survivors (codegen subexpression elimination shares work within
    one operator, never across the two; measured 2x the verify wall
    at the sf0.1 1.7M-candidate set).  Materializing the narrow
    (id_a, id_b, na, nb, i) proxy makes everything above it integer
    arithmetic — the intersect runs exactly once per candidate, and
    the cached rows are ~20 B each (the "cache the proxy, not the
    payload" rule; candidate volume is already bounded by the banded
    generators / occupancy valves upstream).  Call sites whose
    consumers DROP the score (keep-set anti-joins, CC edge lists)
    already collapse to a single Filter evaluation and stay on the
    lazy path — materializing there would only add the cache write.

    The proxy jaccard is bit-identical: i/na/nb are exact integers
    either way, so the double division, round, and threshold compare
    see the same operands."""
    from fractions import Fraction

    # Exact at the 6-decimal acceptance grain: (round(t*1e6) - 1)/1e6
    # can never round the bound UP past the threshold the way a
    # limit_denominator() approximation could for thresholds not
    # representable with a small denominator (e.g. 0.0005 -> 1/1000),
    # so no pair whose exact Jaccard passes is ever clipped.
    fr = Fraction(round(threshold * 10**6) - 1, 10**6)
    num, den = fr.numerator, fr.denominator
    sa = sets_.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"))
    sb = sets_.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"))
    na, nb = F.size("ts_a").cast("long"), F.size("ts_b").cast("long")
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    base = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter((na * den >= nb * num) & (nb * den >= na * num))
    )
    if materialize_scores:
        prox = base.select(
            "id_a",
            "id_b",
            F.size("ts_a").alias("na"),
            F.size("ts_b").alias("nb"),
            inter.alias("i"),
        ).localCheckpoint()
        jac_p = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        return prox.select(
            "id_a",
            "id_b",
            F.round(jac_p.cast("double"), 6).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    jac = inter / (F.size("ts_a") + F.size("ts_b") - inter)
    return base.select(
        "id_a",
        "id_b",
        F.round(jac.cast("double"), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def doc_token_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, ts) sorted distinct-token arrays, built MAP-SIDE — zero
    shuffle, bit-identical to ``toks.groupBy("id").agg(sort_array(
    collect_set("tok")))`` over :func:`doc_tokens` output (the tokens
    come from the same space split; collect_set ≡ array_distinct and
    sort_array ≡ array_sort on null-free string arrays, and null-text
    docs are filtered here exactly as explode drops them there).

    Why it exists: the groupBy form re-shuffles the exploded token
    mass (~100 GB at the 52.5 M-doc fifth decade) just to reassemble
    per-doc sets the scan row already holds.  The sliced bounded-disk
    dedup forms stage this table to parquet once and every slice
    reads it join-free, so no slice pays a corpus-scale shuffle — the
    slice-INDEPENDENT-constant trap that band-space slicing alone
    cannot fix (SCALE.md round-11 fifth-decade failure)."""
    docs = widen_if_narrow(docs).filter(F.col(text_col).isNotNull())
    return docs.select(
        F.col(id_col).alias("id"),
        F.array_sort(
            F.array_distinct(F.split(_text_col(text_col), " ", -1))
        ).alias("ts"),
    )


def token_set_keyed(sets_: DataFrame) -> DataFrame:
    """(id, ts, tsk, n) — the content-fingerprint row the set-dedup
    verify runs on: tsk is md5 of the space-joined sorted set (the
    encoding is injective because tokens come from a space split), n
    is the set size for the Bayardo length filter."""
    return sets_.select(
        "id",
        "ts",
        F.unhex(F.md5(F.concat_ws(" ", "ts").cast("binary"))).alias("tsk"),
        F.size("ts").cast("long").alias("n"),
    )


def jaccard_verify_setdedup(
    pairs: DataFrame, toks: DataFrame, threshold: float
) -> DataFrame:
    """:func:`jaccard_verify` with the expensive work keyed on
    CONTENT, not doc identity: docs are first mapped to a token-SET
    fingerprint (md5 of the space-joined sorted set — tokens come
    from a space split, so the encoding is injective), the
    array-intersect runs once per DISTINCT (set_a, set_b) fingerprint
    pair, and the verdict joins back to the full pair list on the
    16-byte keys.

    Why: on a dup-heavy corpus the candidate list is dominated by
    docs sharing literally identical token sets — the raw synthetic
    table's ~31-word vocabulary yields 2.3 M capped candidates at the
    third decade but only ~10^3 distinct set pairs, so the verify
    join was shipping the same ~100-token arrays 2.3 M times
    (the 15.4× wall + single-node spill in SCALE.md round-9).  Here
    the pair stream stays NARROW end-to-end (16-byte fingerprints +
    two sizes ≈ 50 B/row vs ~1 KB/row with arrays), and array traffic
    is proportional to distinct content, not to pair multiplicity.

    The Bayardo length filter prunes on the (narrow) sizes BEFORE any
    array is fetched — same exact-rational bound as
    :func:`jaccard_verify`.  On a high-entropy corpus the distinct()
    is a near-no-op and the shape degrades gracefully to
    jaccard_verify plus two narrow shuffles.  Output is identical to
    :func:`jaccard_verify` (twin-tested); md5 set-fingerprint
    collisions are the accepted 16-byte-join-key idiom
    (``dedup_crosslingual_entities``)."""
    sets_ = toks.groupBy("id").agg(
        F.sort_array(F.collect_set("tok")).alias("ts")
    )
    return jaccard_verify_keyed(pairs, token_set_keyed(sets_), threshold)



def jaccard_verify_keyed(
    pairs: DataFrame,
    keyed: DataFrame,
    threshold: float,
    prune_arrays: bool = False,
) -> DataFrame:
    """Body of :func:`jaccard_verify_setdedup` over a prebuilt
    ``keyed`` table (:func:`token_set_keyed` output, possibly staged
    to parquet) — the entry point the bounded-disk sliced dedup forms
    use so each slice reads the fingerprints join-free.

    ``prune_arrays=True`` replaces the global ``(tsk, ts) distinct``
    — a shuffle proportional to the WHOLE corpus's array mass, i.e. a
    slice-independent scratch constant — with a semi-join against the
    slice's needed fingerprints followed by a ``min_by`` representative
    pick, so each slice shuffles only the arrays its own candidate
    pairs reference (same mapping: rows sharing tsk share ts by
    construction).  Default False keeps the one-shot plan
    bit-identical."""
    from fractions import Fraction

    fr = Fraction(round(threshold * 10**6) - 1, 10**6)
    num, den = fr.numerator, fr.denominator
    ids_a = keyed.select(
        F.col("id").alias("id_a"),
        F.col("tsk").alias("ka"),
        F.col("n").alias("na"),
    )
    ids_b = keyed.select(
        F.col("id").alias("id_b"),
        F.col("tsk").alias("kb"),
        F.col("n").alias("nb"),
    )
    narrow = (
        pairs.join(ids_a, "id_a")
        .join(ids_b, "id_b")
        .filter(
            (F.col("na") * den >= F.col("nb") * num)
            & (F.col("nb") * den >= F.col("na") * num)
        )
    )
    upairs = narrow.select("ka", "kb").distinct()
    if prune_arrays:
        need = (
            upairs.select(F.col("ka").alias("tsk"))
            .union(upairs.select(F.col("kb").alias("tsk")))
            .distinct()
        )
        arrs = (
            keyed.join(need, "tsk", "left_semi")
            .groupBy("tsk")
            .agg(F.min_by("ts", "id").alias("ts"))
        )
    else:
        arrs = keyed.select("tsk", "ts").distinct()
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    jac = inter / (F.size("ts_a") + F.size("ts_b") - inter)
    verdict = (
        upairs.join(
            arrs.select(F.col("tsk").alias("ka"), F.col("ts").alias("ts_a")),
            "ka",
        )
        .join(
            arrs.select(F.col("tsk").alias("kb"), F.col("ts").alias("ts_b")),
            "kb",
        )
        .select(
            "ka",
            "kb",
            F.round(jac.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return narrow.select("id_a", "id_b", "ka", "kb").join(
        verdict, ["ka", "kb"]
    ).select("id_a", "id_b", "jaccard")


def prefix_index(toks: DataFrame, threshold: float) -> DataFrame:
    """(id, tok) pruned inverted index for a Jaccard-threshold join:
    each doc keeps only its first ``n - ceil(t*n) + 1`` tokens under
    the global canonical order (ascending document frequency, then
    token) — the classic prefix filter (Bayardo et al., WWW'07).

    Why it is exhaustive: J(A,B) >= t implies |A∩B| >= t·|A∪B| >=
    ceil(t·|A|).  If no shared token sat in A's prefix, all shared
    tokens would fit in A's suffix of size ceil(t·|A|) - 1 —
    contradiction.  The SMALLEST shared token (canonical order) is
    therefore in BOTH prefixes, so a prefix-to-prefix join loses no
    qualifying pair.  Indexing rarest-first also means the highest-DF
    (stop) tokens are exactly the ones pruned — the unbounded-posting
    failure mode of a naive inverted index.

    The 1e-9 epsilon guards float noise in t*n: it can only LENGTHEN
    a prefix (safe), never shorten one.
    """
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    doc_freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
        + F.lit(1)
    )
    return (
        toks.join(doc_freq, "tok")
        .withColumn("rnk", F.row_number().over(w))
        .join(sizes, "id")
        .filter(F.col("rnk") <= prefix_len)
        .select("id", "tok")
    )


def ngram_jaccard_pairs(
    toks: DataFrame, threshold: float
) -> DataFrame:
    """Exact (non-approximate) Jaccard-similar pairs: prefix-filtered
    inverted-index join for candidates, then exact Jaccard verify.

    Candidates come only from ``prefix_index`` (each doc's
    ``n - ceil(t*n) + 1`` globally rarest tokens), which is lossless
    for J >= t (proof in prefix_index) while bounding posting lists —
    one stop-token no longer joins the whole corpus.  The verify step
    recomputes Jaccard over the FULL token sets, so precision is
    exact too.
    """
    prefix = prefix_index(toks, threshold)
    a = prefix.select(F.col("id").alias("id_a"), "tok")
    b = prefix.select(F.col("id").alias("id_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(cand, toks, threshold)


def containment_pairs(
    toks: DataFrame, threshold: float
) -> DataFrame:
    """Directional containment pairs: C(A,B) = |A∩B| / |A| >= t —
    the sub-document / superset near-dup case (a doc mostly contained
    in another), which symmetric Jaccard misses when |B| >> |A|.

    Candidates use the containment prefix filter: C(A,B) >= t implies
    |A∩B| >= ceil(t·|A|); if none of A's rarest |A| - ceil(t·|A|) + 1
    tokens (canonical rarest-first order) were shared, every shared
    token would fit in A's suffix of size ceil(t·|A|) - 1 —
    contradiction.  So A's side joins only its prefix (the SAME
    prefix `prefix_index` builds for Jaccard — the bound coincides),
    while B's side must index fully (B may be any superset; only the
    contained side prunes — Agrawal et al.'s containment-join
    asymmetry).  Indexing A rarest-first keeps the joined posting
    lists short exactly where they'd explode.  Verify recomputes
    containment over the full sets, so precision is exact.
    """
    prefix = prefix_index(toks, threshold)
    a = prefix.select(F.col("id").alias("id_a"), "tok")
    b = toks.select(F.col("id").alias("id_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col("id").alias("id_a"), "tok")
    tb = toks.select(F.col("id").alias("id_b"), "tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    return (
        inter.join(na, "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(
                (F.col("inter") / F.col("na")).cast("double"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash16(toks: DataFrame) -> DataFrame:
    """(id, simhash) 16-bit SimHash from the doc's token set.

    Bit i of md5(tok) is taken from hex digit i (>= '8' → 1); the
    fingerprint sets bit i when a strict majority of tokens set it.
    Near-dup docs differ in few bits (compare via Hamming distance or
    band the fingerprint for bucketing). All md5/portable.
    """
    pos = F.explode(F.sequence(F.lit(1), F.lit(16))).alias("i")
    digit = F.substring(
        F.md5(F.col("tok").cast("binary")), F.col("i"), 1
    )
    bit = digit.isin("8", "9", "a", "b", "c", "d", "e", "f").cast("int")
    per_bit = (
        toks.select("id", "tok", pos)
        .select("id", "i", bit.alias("bit"))
        .groupBy("id", "i")
        .agg(F.sum("bit").alias("ones"), F.count(F.lit(1)).alias("n"))
        .select(
            "id",
            "i",
            (F.col("ones") * 2 > F.col("n")).cast("int").alias("maj"),
        )
    )
    weight = F.pow(F.lit(2.0), (16 - F.col("i")).cast("double")).cast("long")
    return per_bit.groupBy("id").agg(
        F.sum(F.col("maj") * weight).alias("simhash")
    )


def simhash64(toks: DataFrame) -> DataFrame:
    """(id, simhash) 64-bit SimHash from the doc's token set.

    Four fingerprint bits per md5 hex digit: digit d (1..16) of
    md5(tok) contributes bits i = 4(d-1)+1 .. 4(d-1)+4, where bit i is
    bit j = (i-1) mod 4 of the digit's value; the fingerprint sets bit
    i when a strict majority of the doc's tokens set it.  Bits pack
    MSB-first (bit 1 → position 63) into one signed BIGINT, so the
    sign bit is data — xor/bit_count treat all 64 positions uniformly.

    Why 64: a 16-bit fingerprint has 65,536 values, so past ~2^8 docs
    unrelated pairs birthday-collide and Hamming<=k stops meaning
    "near-dup"; 64 bits keep the false-collision rate negligible at
    10^9-doc corpora (the scale the reference's SDFS corpus implies).

    Cost: one explode ×16 digit rows per token — the identical row
    blowup to :func:`simhash16` (the 4 bits per digit are derived
    inside the aggregate, not exploded).  All md5 → bit-identical
    across engines, so the DuckDB oracle checks values, not shape.
    """
    pos = F.explode(F.sequence(F.lit(1), F.lit(16))).alias("d")
    v = F.expr(
        "instr('0123456789abcdef', "
        "substring(md5(cast(tok as binary)), d, 1)) - 1"
    ).alias("v")
    per_digit = toks.select("id", "tok", pos).select("id", "d", v)
    aggs = [
        F.sum(F.expr(f"shiftright(v, {j}) & 1")).alias(f"ones{j}")
        for j in range(4)
    ]
    counts = per_digit.groupBy("id", "d").agg(
        F.count(F.lit(1)).alias("n"), *aggs
    )
    # bit i = 4(d-1)+j+1 lands at position 64-i = (67-j) - 4d; JVM
    # shiftleft wraps into the sign bit for position 63 (d=1, j=0)
    contrib = F.expr(
        " | ".join(
            f"shiftleft(cast(ones{j} * 2 > n as bigint), {67 - j} - 4 * d)"
            for j in range(4)
        )
    )
    return (
        counts.select("id", contrib.alias("contrib"))
        .groupBy("id")
        .agg(F.bit_or("contrib").alias("simhash"))
    )


def simhash128(toks: DataFrame) -> DataFrame:
    """(id, sh1, sh0) 128-bit SimHash as two signed BIGINT halves —
    ALL 32 hex digits of md5(tok) contribute 4 bits each (digits
    1-16 -> sh1, 17-32 -> sh0, each packed exactly like
    :func:`simhash64`).

    Why 128: banded bucketing is pigeonhole-lossless only with
    bands <= max_hamming+1, so a 64-bit fingerprint is stuck at
    4 x 16-bit bands — buckets hold n/65536 docs and the candidate
    join turns quadratic past ~10^6 docs (measured: the 8x8 banding
    went OOD at the fourth decade, SCALE.md round-8/9).  128 bits
    buy 4 x 32-bit bands: buckets hold n/2^32 docs, so candidates
    stay ~linear to 10^9+ docs — the fingerprint WIDTH is the knob
    that scales, exactly as ``lsh_neardup_adaptive`` derives its
    band width from the corpus count.

    Same cost shape as simhash64 (explode x32 digit rows per token,
    two bit_or aggregates); all md5 → bit-identical across engines.
    Production fingerprinting uses :func:`simhash128_docs` (one
    shuffle-free mapInPandas pass, round-10) — this explode form is
    kept as the (id, tok)-input API and the vectorized kernel's twin
    oracle.
    """
    pos = F.explode(F.sequence(F.lit(1), F.lit(32))).alias("d")
    v = F.expr(
        "instr('0123456789abcdef', "
        "substring(md5(cast(tok as binary)), d, 1)) - 1"
    ).alias("v")
    per_digit = toks.select("id", "tok", pos).select("id", "d", v)
    aggs = [
        F.sum(F.expr(f"shiftright(v, {j}) & 1")).alias(f"ones{j}")
        for j in range(4)
    ]
    counts = per_digit.groupBy("id", "d").agg(
        F.count(F.lit(1)).alias("n"), *aggs
    )

    def packed(dexpr: str):
        return F.expr(
            " | ".join(
                f"shiftleft(cast(ones{j} * 2 > n as bigint), "
                f"{67 - j} - 4 * ({dexpr}))"
                for j in range(4)
            )
        )

    c1 = F.when(F.col("d") <= 16, packed("d")).otherwise(F.lit(0))
    c0 = F.when(F.col("d") > 16, packed("d - 16")).otherwise(F.lit(0))
    return (
        counts.select("id", c1.alias("c1"), c0.alias("c0"))
        .groupBy("id")
        .agg(F.bit_or("c1").alias("sh1"), F.bit_or("c0").alias("sh0"))
    )


def _simhash_docs(
    docs: DataFrame, id_col: str, text_col: str, nbits: int
) -> DataFrame:
    """Shared shuffle-free SimHash kernel: one ``mapInPandas`` pass
    computes each document's per-bit majority in numpy — one row per
    doc in, one fingerprint row out, ZERO shuffles before banding.

    This replaces the explode-×(nbits/4)-digit-rows build (still
    available as :func:`simhash64` / :func:`simhash128` for (id, tok)
    inputs): at the 5M-doc decade the explode form materialized ~5 B
    intermediate rows through two full shuffles — the measured wall
    of ``split_leakage_simhash_ctrl``'s fourth decade (SCALE.md
    round-9) and a driver-heap hazard.  Here the only data movement
    is the scan itself.

    Bit-exactness contract (mirrors the explode form and the DuckDB
    oracle digit for digit): tokens are ``split(text, ' ', -1)`` with
    SET semantics; digit d (1-based) of md5(utf8(tok)) contributes
    bits i = 4(d-1)+j+1 (j = bit j of the digit's value); bit i is
    set when a strict majority (``ones*2 > n``) of the doc's distinct
    tokens set it; bits pack MSB-first, so bit column c lands at
    position 63-c of its BIGINT half — the sign bit is data, exactly
    the JVM shiftleft-wrap layout.  md5 is md5, so oracles are
    unchanged.

    Null text yields no output row (the explode form drops those
    docs the same way).  Per batch, md5 runs once per DISTINCT token
    (a dict keyed on the batch vocabulary), then the per-doc counts
    are one ``np.add.reduceat`` over the gathered bit matrix — no
    per-batch state survives, so memory is bounded by the Arrow
    batch size regardless of corpus vocabulary."""
    import pandas as pd  # noqa: F401 (re-imported in the closure)

    from distributed_system_spark.sources.tables import (
        WIDEN_SLOT_BYTES_DENSE,
    )

    assert nbits in (64, 128)
    ndigits = nbits // 4
    src = widen_if_narrow(
        docs, min_slot_bytes=WIDEN_SLOT_BYTES_DENSE
    ).select(
        F.col(id_col).cast("long").alias("id"),
        _text_col(text_col).alias("text"),
    )
    out_schema = (
        "id bigint, simhash bigint"
        if nbits == 64
        else "id bigint, sh1 bigint, sh0 bigint"
    )

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        nbytes = ndigits // 2
        jshift = np.arange(4, dtype=np.uint8)
        w64 = np.uint64(1) << np.uint64(63 - np.arange(64))

        def vocab_bits(vocab):
            # (V, nbits) uint8: row = token, col c = 4*d0+j = bit
            # j of md5 hex digit d0 (0-based) — the explode form's
            # (d, j) layout flattened.
            bm = np.empty((len(vocab), nbits), dtype=np.uint8)
            v = np.empty(ndigits, dtype=np.uint8)
            for tok, ix in vocab.items():
                dg = hashlib.md5(tok.encode("utf-8")).digest()[:nbytes]
                b = np.frombuffer(dg, dtype=np.uint8)
                v[0::2] = b >> 4
                v[1::2] = b & 15
                bm[ix] = ((v[:, None] >> jshift) & 1).reshape(-1)
            return bm

        def pack(cols):  # (D, 64) bool -> int64, MSB-first
            return (
                (cols.astype(np.uint64) * w64)
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )

        for pdf in batches:
            vocab: dict = {}
            flat, lens, keep = [], [], []
            for did, txt in zip(pdf["id"], pdf["text"]):
                if txt is None:
                    continue
                toks = set(txt.split(" "))
                for tok in toks:
                    ix = vocab.get(tok)
                    if ix is None:
                        ix = len(vocab)
                        vocab[tok] = ix
                    flat.append(ix)
                lens.append(len(toks))
                keep.append(did)
            if not keep:
                continue
            bm = vocab_bits(vocab)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(np.asarray(lens[:-1], dtype=np.int64), out=starts[1:])
            counts = np.add.reduceat(
                bm[np.asarray(flat, dtype=np.int64)],
                starts,
                axis=0,
                dtype=np.int64,
            )
            maj = counts * 2 > np.asarray(lens, dtype=np.int64)[:, None]
            ids = np.asarray(keep, dtype=np.int64)
            if nbits == 64:
                yield pd.DataFrame({"id": ids, "simhash": pack(maj)})
            else:
                yield pd.DataFrame(
                    {
                        "id": ids,
                        "sh1": pack(maj[:, :64]),
                        "sh0": pack(maj[:, 64:]),
                    }
                )

    return src.mapInPandas(gen, out_schema)


def simhash64_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) 64-bit SimHash straight from (id, text) rows —
    bit-identical to ``simhash64(doc_tokens(docs))`` (twin-tested)
    with the explode + two shuffles replaced by one shuffle-free
    ``mapInPandas`` numpy pass.  See :func:`_simhash_docs`."""
    return _simhash_docs(docs, id_col, text_col, 64)


def simhash128_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh1, sh0) 128-bit SimHash straight from (id, text) rows —
    bit-identical to ``simhash128(doc_tokens(docs))`` (twin-tested)
    with the explode + two shuffles replaced by one shuffle-free
    ``mapInPandas`` numpy pass.  See :func:`_simhash_docs`."""
    return _simhash_docs(docs, id_col, text_col, 128)


def simhash128_neardup_pairs(
    fp: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs over 128-bit fingerprints
    via 4 x 32-bit bands — pigeonhole-lossless for hamming <= 3, with
    buckets of n/2^32 expected docs (vs n/65536 for the widest
    64-bit banding): the shape that keeps candidate volume ~linear
    at the 10^7-doc fourth decade and beyond."""
    if max_hamming > 3:
        raise ValueError(
            f"4-band banding is only lossless for max_hamming <= 3 "
            f"({max_hamming} > 3)"
        )
    # The fingerprint table feeds BOTH sides of the band self-join;
    # left lazy, the upstream mapInPandas SimHash pass (a full corpus
    # scan + numpy pass) executes twice — no ReusedExchange fires
    # across the differently-aliased sides.  One checkpoint of the
    # narrow (id, sh1, sh0) rows bounds it to once (r13).
    fp = fp.localCheckpoint()
    band = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band")
    bucket = F.expr(
        "CASE band WHEN 0 THEN shiftright(sh1, 32) & 4294967295 "
        "WHEN 1 THEN sh1 & 4294967295 "
        "WHEN 2 THEN shiftright(sh0, 32) & 4294967295 "
        "ELSE sh0 & 4294967295 END"
    )
    banded = fp.select("id", "sh1", "sh0", band).withColumn(
        "bucket", bucket
    )
    a = banded.select(
        F.col("id").alias("id_a"),
        F.col("sh1").alias("a1"),
        F.col("sh0").alias("a0"),
        "band",
        "bucket",
    )
    b = banded.select(
        F.col("id").alias("id_b"),
        F.col("sh1").alias("b1"),
        F.col("sh0").alias("b0"),
        "band",
        "bucket",
    )
    hamming = F.bit_count(
        F.col("a1").bitwiseXOR(F.col("b1"))
    ) + F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_neardup_pairs(
    fp: DataFrame, max_hamming: int = 3, bands: int = 8, band_bits: int = 8
) -> DataFrame:
    """(id_a, id_b, hamming) pairs of near-duplicate fingerprints —
    the candidate-generation step simhash16 feeds (closing the loop
    the round-2 verdict flagged: fingerprints nothing consumed).

    Banded bucketing, EXHAUSTIVE by pigeonhole: with ``bands`` bands a
    pair differing in <= bands-1 bits must agree on at least one whole
    band, so a same-(band, bucket) equi-join loses nothing for
    ``max_hamming <= bands - 1`` (default 3 <= 7).  Unlike
    probability-curve LSH this is a proof, so the exact all-pairs
    oracle matches by construction, not by luck.

    Scale: fingerprints are 1 row/doc; the default 8 bands × 8 bits
    over a 64-bit fingerprint give 2048 uniform-ish buckets of
    md5-derived bits; the join shuffles on (band, bucket) and touches
    only colliding docs, never all-pairs.  shiftright sign-extension
    on the top band is masked off by ``& mask``.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding is only lossless for max_hamming <= bands-1 "
            f"({max_hamming} > {bands - 1})"
        )
    # Same two-sided self-join as the 128-bit form: checkpoint the
    # narrow (id, simhash) rows once so the upstream fingerprint pass
    # (mapInPandas over the whole corpus) runs once, not per side (r13).
    fp = fp.localCheckpoint()
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    mask = (1 << band_bits) - 1
    banded = fp.select("id", "simhash", band).withColumn(
        "bucket",
        F.expr(f"shiftright(simhash, band * {band_bits}) & {mask}"),
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("fa"), "band", "bucket"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("fb"), "band", "bucket"
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components by iterative min-label propagation: the
    cluster step of near-dup grouping (pairs → groups → keep one
    representative per group). (id, comp) out, comp = min node id
    reachable.

    The driver loop runs O(graph diameter) Spark jobs — each iteration
    is one join + aggregate over (label ∪ edges), all JVM-side; the
    driver only inspects the converged? count. At 100 TB use the
    large-star/small-star variant (same loop shape, alternating
    neighbor contractions) to cut iterations on high-diameter graphs;
    near-dup graphs are almost always tiny stars, converging in 2-3.

    ``edges``: (src, dst) undirected pairs; ``nodes``: (id).
    """
    sym = edges.selectExpr("src", "dst").union(
        edges.selectExpr("dst AS src", "src AS dst")
    )
    # The edge set is loop-invariant but referenced 2x per iteration
    # (join + convergence count): materialize it once so an expensive
    # upstream (e.g. the LSH candidate pipeline) never re-executes.
    sym = sym.localCheckpoint(eager=True)
    labels = nodes.select(F.col("id"), F.col("id").alias("comp"))
    for _ in range(max_iter):
        neighbor_min = (
            labels.join(sym, labels["id"] == sym["src"])
            .groupBy(sym["dst"].alias("id2"))
            .agg(F.min("comp").alias("ncomp"))
        )
        # The previous label rides the checkpoint as `old`, so the
        # convergence check is a scan of the just-cached rows — the
        # earlier form re-JOINED labels with new_labels per
        # iteration, a second shuffle job on the loop's critical
        # path whose answer the propagation pass already knew (r13).
        new_labels = (
            labels.join(
                neighbor_min, labels["id"] == neighbor_min["id2"], "left"
            )
            .select(
                "id",
                F.col("comp").alias("old"),
                F.least(
                    F.col("comp"), F.coalesce("ncomp", F.col("comp"))
                ).alias("comp"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage
        changed = new_labels.filter(F.col("old") != F.col("comp")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    return labels

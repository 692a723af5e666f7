"""Dedup queries over `documents` (LLM-pipeline surface): exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Every query — including the LSH pipeline — has a full DuckDB oracle,
because all hashing is md5 over strings (engine-portable); see
operators/dedup.py for the scale analysis of each operator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from distributed_system_spark.operators.dedup import (
    containment_pairs,
    doc_token_sets,
    doc_tokens,
    jaccard_verify_keyed,
    jaccard_verify_sets,
    minhash_band_signatures_sets,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash64_docs,
    simhash128_docs,
    simhash128_neardup_pairs,
    simhash_neardup_pairs,
    token_set_keyed,
)
from distributed_system_spark.queries import register
from distributed_system_spark.scratch import fresh_dir
from distributed_system_spark.sources.tables import load_table

# Slice count K for both bounded-disk ``*_sliced`` forms; their bucket
# key is the first two hash hex digits, so K must stay in [1, 256].
_SLICES = 4


_TOKS_SQL = """
toks AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM documents
)"""

_VERIFY_SQL = """
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.id = i.id_a
JOIN sizes nb ON nb.id = i.id_b
WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6) >= {thr}
"""


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep lowest doc_id.

    At 100 TB: group on the md5 (16 bytes) rather than the full text so
    shuffle rows stay small; partial agg combines map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_TOKS_SQL},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
),
{_VERIFY_SQL.format(thr=0.8)}
""",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive token-set Jaccard >= 0.8 pairs via inverted-index
    join (never a cross join; see prefix-filtering note in operators)."""
    toks = doc_tokens(load_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(toks, 0.8)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_TOKS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
{_VERIFY_SQL.format(thr=0.8)}
""",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 hashes) + LSH (4 bands x 2 rows) candidates, then
    exact-Jaccard verification at 0.8 — candidate pairs only, the
    scalable fuzzy-dedup shape. Fully oracle-checked: md5-based
    minhashes are bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass (r13): the checkpointed set table feeds both
    # the band build (min over distinct tokens ≡ min over tokens) and
    # the verify joins — the corpus is scanned and split exactly once.
    sets_ = doc_token_sets(docs).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    # materialize_scores: this query's output keeps the jaccard
    # column, the double-evaluation case (operator docstring).
    return jaccard_verify_sets(cand, sets_, 0.8, materialize_scores=True)


# 64-bit SimHash CTE: 4 bits per md5 hex digit (bit j of digit d's
# value → fingerprint bit 4(d-1)+j+1, packed MSB-first).  DuckDB
# refuses `1 << 63` (overflow-checked), so the d=1/j=0 contribution —
# the sign bit — is spelled as the BIGINT minimum literal; every other
# position shifts normally.  Spark's JVM shiftleft wraps, so both
# engines land on the identical signed-64 value.
_SIMHASH_SQL = """
toks AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM documents
),
digits AS (
  SELECT id, d,
         strpos('0123456789abcdef', substr(md5(tok), CAST(d AS INT), 1)) - 1
           AS v
  FROM toks CROSS JOIN (SELECT unnest(range(1, 17)) AS d) p
),
dmaj AS (
  SELECT id, d,
         CASE WHEN sum((v >> 0) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m0,
         CASE WHEN sum((v >> 1) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m1,
         CASE WHEN sum((v >> 2) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m2,
         CASE WHEN sum((v >> 3) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m3
  FROM digits GROUP BY id, d
),
packed AS (
  SELECT id,
           (CASE WHEN d = 1 AND m0 = 1
                 THEN CAST(-9223372036854775808 AS BIGINT)
                 ELSE CAST(m0 AS BIGINT) << CAST(67 - 4*d AS INT) END)
         | (CAST(m1 AS BIGINT) << CAST(66 - 4*d AS INT))
         | (CAST(m2 AS BIGINT) << CAST(65 - 4*d AS INT))
         | (CAST(m3 AS BIGINT) << CAST(64 - 4*d AS INT)) AS contrib
  FROM dmaj
),
fp AS (
  SELECT id, bit_or(contrib) AS simhash FROM packed GROUP BY id
)"""


@register(
    "dedup_simhash",
    oracle=f"""
WITH {_SIMHASH_SQL}
SELECT id, simhash FROM fp
""",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (per-bit majority of
    token md5s) — near-dups differ in few bits; bucketing the
    fingerprint gives an O(n) candidate generator at scale. 64 bits
    (not 16): unrelated docs must not birthday-collide at real corpus
    sizes."""
    return simhash64_docs(load_table(spark, sf_dir, "documents"))


@register(
    "simhash_neardup",
    oracle=f"""
WITH {_SIMHASH_SQL}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    tags=("dedup", "simhash"),
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming <= 3 over 64-bit
    fingerprints) via 8x8-bit banded bucketing — lossless by
    pigeonhole (<= 7 differing bits leave >= 1 band intact), so the
    Spark side joins only within buckets while the oracle's exhaustive
    all-pairs form must agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(simhash64_docs(docs), max_hamming=3)


# The synthetic documents table has a ~31-word vocabulary, so at any
# SF nearly every doc pair is a true >=0.8-Jaccard duplicate — honest
# for correctness, useless for judging fuzzy-dedup wall-time (the
# output is inherently quadratic in the data).  This derived corpus
# fixes the data, not the plan: namespacing every token by its doc_id
# makes the vocabulary large (cross-doc overlap drops to zero), then a
# controlled 5% near-dup rate is injected by cloning every 20th doc
# with one extra token (Jaccard n/(n+1) for an n-token doc — a true
# dup whenever n >= 4).  Both engines derive the corpus with the same
# expressions, so the LSH pipeline stays fully oracle-checked.
#
# Clone ids live at base + 10^12 — ABOVE every id tools/scaleup.py can
# produce (DOC_STRIDE=10^7 x <=10^5 replicas < 10^12), so (a) clones
# sort after all base docs and the keep-FIRST rule always keeps the
# source, and (b) `doc_id >= 10^12` is an exact increment marker at
# every scale decade.  (The previous +10^6 offset collided with
# scaleup's rep-shifted ids: at sf1+ most of the BASE corpus landed in
# the "increment" filter — ADVICE r8.)
_CTRL_CLONE_OFFSET = 1_000_000_000_000

_CTRL_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id,
         array_to_string(list_transform(str_split(text, ' '),
           x -> x || '_' || CAST(doc_id AS VARCHAR)), ' ') AS text
  FROM documents
  UNION ALL
  SELECT doc_id + {_CTRL_CLONE_OFFSET},
         array_to_string(list_transform(str_split(text, ' '),
           x -> x || '_' || CAST(doc_id AS VARCHAR)), ' ')
           || ' zz_' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 20 = 0
),
toks AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM corpus
)"""


def _ctrl_corpus(docs: DataFrame) -> DataFrame:
    ns = F.expr(
        "array_join(transform(split(text, ' '), "
        "x -> concat(x, '_', cast(doc_id as string))), ' ')"
    )
    base = docs.select("doc_id", ns.alias("text"))
    dups = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + _CTRL_CLONE_OFFSET).alias("doc_id"),
        F.concat(ns, F.lit(" zz_"), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    return base.unionByName(dups)


@register(
    "dedup_minhash_ctrl",
    oracle=f"""
WITH {_CTRL_CORPUS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
{_VERIFY_SQL.format(thr=0.8)}
""",
    tags=("dedup", "lsh", "bench"),
)
def dedup_minhash_ctrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH fuzzy dedup on the controlled-dup-rate derived
    corpus (large vocabulary, ~5% injected near-dups) — the honest
    wall-time benchmark for the LSH pipeline: the candidate count is
    near-linear in the true-dup count, the shape a real (non-toy)
    corpus produces, instead of the all-pairs-are-dups degeneracy of
    the raw synthetic documents table."""
    corpus = _ctrl_corpus(load_table(spark, sf_dir, "documents"))
    # ONE tokenize pass over the generated corpus (r13): the ctrl
    # text-rewrite + split runs once into the checkpointed set table;
    # bands derive from it map-side.
    sets_ = doc_token_sets(corpus).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    # materialize_scores: this query's output keeps the jaccard
    # column, the double-evaluation case (operator docstring).
    return jaccard_verify_sets(cand, sets_, 0.8, materialize_scores=True)


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE {_SIMHASH_SQL},
edges AS (
  SELECT a.id AS src, b.id AS dst
  FROM fp a JOIN fp b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
sym AS (SELECT src, dst FROM edges
        UNION ALL SELECT dst AS src, src AS dst FROM edges),
walk(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id
),
cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
qual AS (
  SELECT doc_id AS id, len(list_distinct(str_split(text, ' '))) AS n_unique
  FROM documents
),
ranked AS (
  SELECT cc.comp, cc.id, q.n_unique,
         row_number() OVER (PARTITION BY cc.comp
                            ORDER BY q.n_unique DESC, cc.id ASC) AS rn
  FROM cc JOIN qual q ON q.id = cc.id
)
SELECT comp AS cluster_id,
       max(CASE WHEN rn = 1 THEN id END) AS keep_id,
       count(*) AS n_members
FROM ranked GROUP BY comp
""",
    tags=("dedup", "simhash", "iterative"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative SELECTION — the step after near-dup
    detection and grouping: SimHash near-dup pairs (Hamming <= 3) →
    connected components → keep the highest-quality member per cluster
    (most unique tokens, doc_id ascending as the tie-break).  This is
    the keep/drop decision a pretraining pipeline actually executes;
    detect→cluster→select composes three operators end-to-end.

    At 100 TB: the pairs and CC stages are the bucketed/iterative
    shapes already analyzed (operators/dedup.py); the selection itself
    is one window over clusters — partitioned by component, never
    global.  The oracle reproduces the fixpoint with a recursive CTE
    and the same rank rule.
    """
    from pyspark.sql import Window

    from distributed_system_spark.operators.dedup import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    edges = simhash_neardup_pairs(simhash64_docs(docs), max_hamming=3).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges, docs.select(F.col("doc_id").alias("id")))
    qual = docs.select(
        F.col("doc_id").alias("id"),
        F.size(F.array_distinct(F.split("text", " ", -1))).alias("n_unique"),
    )
    ranked = cc.join(qual, "id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("comp").orderBy(
                F.desc("n_unique"), F.asc("id")
            )
        ),
    )
    return ranked.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.max(F.when(F.col("rn") == 1, F.col("id"))).alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register(
    "dedup_incremental",
    oracle=f"""
WITH {_TOKS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
  WHERE b.id >= 400
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT i.id_b
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6) >= 0.8
)
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE d.doc_id >= 400 AND d.doc_id NOT IN (SELECT id_b FROM dups)
""",
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fuzzy dedup: admit only NEW docs (doc_id >= 400 —
    standing in for today's batch) with no >= 0.8-Jaccard match to any
    EARLIER doc (the existing corpus, or a smaller-id new doc) — the
    keep-first rule restricted to the increment.  The candidate join
    touches (new × colliding) band buckets, never corpus²: at 100 TB
    you never re-dedup history, you join the day's signatures against
    the standing index and append the survivors.  Same md5 machinery
    as dedup_minhash_lsh, so fully oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass (r13): bands derive from the checkpointed set
    # table the verify also joins.
    sets_ = doc_token_sets(docs).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_)).filter(
        F.col("id_b") >= 400
    )
    dup_new = (
        jaccard_verify_sets(cand, sets_, 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") >= 400)
        .join(dup_new, "doc_id", "left_anti")
        .select("doc_id", "n_chars")
    )


_BUCKET_CAP = 64


@register(
    "dedup_incremental_capped",
    oracle=f"""
WITH {_TOKS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
hot AS (
  SELECT band, sig FROM bands
  GROUP BY band, sig HAVING count(*) > {_BUCKET_CAP}
),
kept AS (
  SELECT b.id, b.band, b.sig FROM bands b
  ANTI JOIN hot h ON b.band = h.band AND b.sig = h.sig
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
  WHERE b.id >= 400
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT i.id_b
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6) >= 0.8
)
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE d.doc_id >= 400 AND d.doc_id NOT IN (SELECT id_b FROM dups)
""",
    tags=("dedup", "lsh", "incremental", "capped"),
)
def dedup_incremental_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` with the BUCKET-OCCUPANCY SAFETY VALVE
    engaged (max_bucket=64, the _BUCKET_CAP constant): band buckets holding more
    members than the cap are dropped before the candidate join —
    the bounded-work form a production LSH pipeline runs, exactly
    as contamination_check suppresses >100-train-doc 8-grams.

    Semantics trade, stated precisely: a true near-dup pair is lost
    ONLY if every band it collides in is hot — on a sane corpus
    (small clusters) the cap never binds and the answer equals
    dedup_incremental's; on a degenerate corpus (this raw synthetic
    table: ~31-word vocabulary, nearly all pairs true dups) the cap
    converts the round-8 OOD mode — 2.1 B band collisions at 5 M
    docs, shuffle past local disk — into bounded, measured behavior:
    per-bucket work <= cap², total candidates <= |buckets| x cap².
    The recall trade is quantified on the controlled-dup corpus
    (tests/test_llm_ops.py::test_capped_candidates_keep_planted_dups:
    planted clones all survive, because their buckets hold ~2 docs)
    and visible here as survivors that dedup_incremental would have
    dropped.  The oracle implements the identical cap rule, so the
    verdict under the cap is itself hash-checked — the cap is
    DECLARED semantics, not an unchecked approximation.

    Round-10: the Jaccard verify runs content-keyed
    (``jaccard_verify_setdedup``) — the 2.3 M third-decade candidates
    collapse to the corpus's few thousand DISTINCT token-set pairs
    before any array is fetched, so the pair stream stays ~50 B/row
    and the array-intersect work scales with distinct content, not
    pair multiplicity.  That removed the verify stage's single-node
    array-shuffle spill: the sf1→sf10 decade re-measured 15.4× →
    7.5× (101.3 s → 67.9 s) for a ~+1.5 s small-SF constant (the
    extra narrow shuffles) — the right trade for the decade this
    query exists to certify.

    Round-11: the r10 driver flagged this query's sf0.1 wall (2.33 →
    3.58 s, the round's only regression) — the round-10-B shuffle-free
    band build inlined split+array_distinct into all 8 per-seed min
    expressions.  ``minhash_band_signatures_docs`` now projects the
    token array once before the seed mins (bit-identical, twin-tested);
    best-of-2 local retime recovered ~1.1 s of the 1.25 s regression.
    The residual ~0.15 s is the round-10 content-keyed verify's narrow
    shuffles — the documented trade that halved the sf10/sf100d decades
    (SCALE.md round-10 rows)."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass (r13): the content-keyed fingerprint table
    # (id, ts, tsk, n) is checkpointed once and feeds the band build
    # (from its ts column) AND all three keyed-verify consumers.
    keyed = token_set_keyed(doc_token_sets(docs)).localCheckpoint()
    cand = lsh_candidate_pairs(
        minhash_band_signatures_sets(keyed), max_bucket=_BUCKET_CAP
    ).filter(F.col("id_b") >= 400)
    dup_new = (
        jaccard_verify_keyed(cand, keyed, 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") >= 400)
        .join(dup_new, "doc_id", "left_anti")
        .select("doc_id", "n_chars")
    )


_XLING_TWIN_OFFSET = 2_000_000_000_000  # above _CTRL_CLONE_OFFSET too


@register(
    "dedup_crosslingual_entities",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang,
         list_distinct([
           'ent:' || toks[CAST(i AS INT)] || '_'
                  || CAST(doc_id AS VARCHAR)
           for i in range(1, len(toks) + 1) if (i % 5) = 1
         ]) AS ents
  FROM (SELECT doc_id, lang, str_split(text, ' ') AS toks
        FROM documents)
),
corpus AS (
  SELECT doc_id, lang, ents FROM base
  UNION ALL
  SELECT doc_id + {_XLING_TWIN_OFFSET}, lang || '_x', ents
  FROM base WHERE doc_id % 10 = 0
),
e AS (SELECT doc_id AS id, lang, unnest(ents) AS ent FROM corpus),
hot AS (SELECT ent FROM e GROUP BY ent HAVING count(*) > 100),
k AS (SELECT e.id, e.lang, e.ent FROM e
      ANTI JOIN hot h ON e.ent = h.ent),
p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         max(a.lang) AS lang_a, max(b.lang) AS lang_b,
         count(*) AS n_shared
  FROM k a JOIN k b
    ON a.ent = b.ent AND a.id < b.id AND a.lang <> b.lang
  GROUP BY a.id, b.id
),
sz AS (SELECT doc_id, len(ents) AS n FROM corpus)
SELECT p.id_a, p.id_b, p.lang_a, p.lang_b,
       CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(round(CAST(CAST(p.n_shared AS DOUBLE)
                       / (sa.n + sb.n - p.n_shared)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS ent_jaccard
FROM p
JOIN sz sa ON sa.doc_id = p.id_a
JOIN sz sb ON sb.doc_id = p.id_b
WHERE round(CAST(CAST(p.n_shared AS DOUBLE)
                 / (sa.n + sb.n - p.n_shared)
            AS DECIMAL(18,12)), 6) >= 0.5
""",
    tags=("dedup", "crosslingual", "llm"),
)
def dedup_crosslingual_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-LINGUAL near-duplicate detection via shared-ENTITY
    fingerprints — the "same article, different language" case that
    token-level MinHash is structurally blind to (a translation
    shares almost no surface tokens with its source).  What survives
    translation are the language-neutral tokens: numbers, names,
    codes, URLs.  Every 5th token position stands in for the
    entity extractor (deterministic NER stub), entities are
    doc-namespaced, and a translated twin (lang || '_x', planted for
    doc_id % 10 == 0 — the derived-corpus discipline of
    ``_ctrl_corpus``) carries its source's EXACT entity set with
    entirely different surface text.  Candidates are pairs in
    DIFFERENT languages sharing an entity; the verify is entity-set
    Jaccard >= 0.5.  Planted twins come back at ent_jaccard = 1.0;
    unrelated docs share no namespaced entity, so candidate volume
    is linear in true matches.

    Scale shape: the entity inverted index is an explode bounded by
    n_tokens/5; posting lists above 100 docs are DROPPED before the
    pair join (the ``lsh_candidate_pairs`` max_bucket valve — a
    ubiquitous "entity" like a year number is a stopword, not a
    match signal, exactly the suppressed-8-gram rule), so per-entity
    join work is capped at 100²; the pair aggregate keys on
    (id_a, id_b); size lookups are two hash joins.  No all-pairs
    stage anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ", -1)
    idx = F.filter(
        F.sequence(F.lit(1), F.size(toks)), lambda i: i % 5 == 1
    )
    ents = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat(
                F.lit("ent:"),
                F.element_at(toks, i),
                F.lit("_"),
                F.col("doc_id").cast("string"),
            ),
        )
    )
    base = docs.select("doc_id", "lang", ents.alias("ents"))
    twins = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _XLING_TWIN_OFFSET).alias("doc_id"),
        F.concat(F.col("lang"), F.lit("_x")).alias("lang"),
        "ents",
    )
    corpus = base.unionByName(twins)
    # The hot-posting valve is EXACT on the RAW entity — the oracle's
    # rule — but never ships raw strings through a full shuffle: an
    # md5(ent)-occupancy pass (16-byte keys) flags CANDIDATE hot
    # buckets with total recall (eh occupancy >= raw occupancy, so a
    # raw entity over the cap always flags its bucket), then the raw
    # occupancy is recounted EXACTLY over just the flagged buckets'
    # rows (a broadcast semi-join bounds that recount to the hot
    # slice), and the final drop is a broadcast anti-join on the raw
    # entity — so an md5 collision can neither push a cold entity
    # over the cap (phase 2 counts raw) nor drop a cold collider of
    # a hot entity (the anti-join matches raw).  The pair join
    # downstream shuffles on md5(entity), where a collision can only
    # ADD a candidate the Jaccard verify then scores, never drop one.
    # The exploded entity table feeds FIVE consumers (md5-occupancy
    # pass, exact hot recount, the anti-join probe, and — via sz
    # below — both size lookups); unmaterialized, each re-executed
    # the corpus-gen + entity-extraction subtree (32 parquet scans in
    # plans/r13/dedup_crosslingual_entities_before.txt).  One
    # checkpoint of the narrow exploded rows bounds that (r13).
    e0 = corpus.select(
        F.col("doc_id").alias("id"),
        "lang",
        F.explode("ents").alias("ent"),
    ).select(
        "id", "lang", "ent", F.md5(F.col("ent").cast("binary")).alias("eh")
    ).localCheckpoint()
    hot_eh = (
        e0.groupBy("eh")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 100)
        .select("eh")
    )
    hot = (
        e0.join(F.broadcast(hot_eh), "eh")
        .groupBy("ent")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 100)
        .select("ent")
    )
    k = e0.join(F.broadcast(hot), "ent", "left_anti").select(
        "id", "lang", "eh"
    )
    a = k.select(
        F.col("id").alias("id_a"), F.col("lang").alias("la"), "eh"
    )
    b = k.select(
        F.col("id").alias("id_b"), F.col("lang").alias("lb"), "eh"
    )
    p = (
        a.join(b, "eh")
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("la") != F.col("lb")))
        .groupBy("id_a", "id_b")
        .agg(
            F.max("la").alias("lang_a"),
            F.max("lb").alias("lang_b"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    # Entity-set sizes from the CACHED exploded table: ents is
    # array_distinct, so count-per-id over e0 == size(ents) for every
    # doc with >= 1 entity — and a doc in any pair has >= 1 shared
    # entity, so the join below never needs the zero-entity rows the
    # groupBy drops.  Re-deriving from corpus would re-run the whole
    # entity build a 4th/5th time (r13).
    sz = e0.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n")
    )
    jac = F.round(
        (
            F.col("n_shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_shared"))
        ).cast("decimal(18,12)"),
        6,
    )
    return (
        p.join(
            sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .filter(jac >= 0.5)
        .select(
            "id_a",
            "id_b",
            "lang_a",
            "lang_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            jac.cast("double").alias("ent_jaccard"),
        )
    )


@register(
    "curation_pipeline",
    oracle=f"""
WITH q AS (
  SELECT doc_id, text,
         len(str_split(text, ' ')) AS n_tokens,
         len(list_distinct(str_split(text, ' '))) AS n_unique,
         length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         length(text) AS len_chars
  FROM documents
),
keepq AS (
  SELECT doc_id, text, n_tokens FROM q
  WHERE n_tokens BETWEEN 5 AND 1000
    AND CAST(n_unique AS DOUBLE) / n_tokens > 0.1
    AND CAST(n_punct AS DOUBLE) / len_chars < 0.2
),
ex AS (SELECT min(doc_id) AS doc_id FROM keepq GROUP BY md5(text)),
s1 AS (SELECT k.doc_id, k.text, k.n_tokens
       FROM keepq k JOIN ex USING (doc_id)),
toks AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM s1
),
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT i.id_b
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6) >= 0.8
)
SELECT s1.doc_id,
       CASE WHEN substr(md5(CAST(s1.doc_id AS VARCHAR)), 1, 2) < 'cd'
            THEN 'train'
            WHEN substr(md5(CAST(s1.doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'val' ELSE 'test' END AS split,
       s1.n_tokens
FROM s1 WHERE s1.doc_id NOT IN (SELECT id_b FROM dups)
""",
    tags=("dedup", "pipeline", "flagship"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus curation pipeline as one composed query —
    what a pretraining-data user actually runs: (1) heuristic quality
    gate (text_quality's keep rule), (2) exact dedup keeping the
    lowest doc_id per content hash, (3) MinHash+LSH fuzzy dedup at
    Jaccard >= 0.8 dropping any doc matching an earlier survivor, (4)
    deterministic md5 train/val/test assignment with token counts for
    the budget report.  Every stage is an operator this repo already
    verifies in isolation; this query proves they COMPOSE — same
    helpers, one plan, fully oracle-checked.

    At 100 TB: the stages pipeline without materialization barriers —
    quality is a per-row filter pushed at the scan, exact dedup
    shuffles 16-byte hashes, LSH shuffles band signatures (never
    pairs-of-texts), and the final keep set is a left-anti join on
    doc_id.  The composed plan inherits each stage's scale analysis
    (operators/dedup.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    q = docs.select(
        "doc_id",
        "text",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_unique"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias(
            "n_punct"
        ),
        F.length("text").alias("len_chars"),
    )
    keepq = q.filter(
        F.col("n_tokens").between(5, 1000)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") > 0.1)
        & (F.col("n_punct").cast("double") / F.col("len_chars") < 0.2)
    ).select("doc_id", "text", "n_tokens")
    ex = (
        keepq.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # The exact-dedup survivor set is consumed by 3-4 downstream
    # branches (band build, verify token sets x2, final join / funnel
    # stages); without materialization each branch re-executes the
    # whole corpus-gen + gate + exact-dedup subtree (no ReusedExchange
    # fires — plans/r13).  One localCheckpoint = one upstream pass.
    # ONE pass, ONE cache (r13 continued): the survivor row carries
    # its sorted distinct-token set out of the exact-dedup join, so
    # the old SECOND sequential checkpoint pass (re-splitting the
    # cached text into a separate set table) is gone, and the cache
    # holds (doc_id, n_tokens, ts) instead of text PLUS a ts table.
    # Downstream only ever needs n_tokens (final join / funnel
    # stages) and ts (band build + verify); the quality gate
    # guarantees text is non-null, so the ts view matches
    # doc_token_sets' null-filtered output exactly.
    s1 = (
        keepq.join(ex, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.array_sort(
                F.array_distinct(F.split(F.col("text"), " ", -1))
            ).alias("ts"),
        )
        .localCheckpoint()
    )
    sets_ = s1.select(F.col("doc_id").alias("id"), "ts")
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    dups = (
        jaccard_verify_sets(cand, sets_, 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    b = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
    return (
        s1.join(dups, "doc_id", "left_anti")
        .select("doc_id", split.alias("split"), "n_tokens")
    )


@register(
    "dedup_containment",
    oracle=f"""
WITH {_TOKS_SQL},
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id <> b.id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(CAST(i.inter AS DOUBLE) / na.n, 6) AS containment
FROM inter i JOIN sizes na ON na.id = i.id_a
WHERE round(CAST(i.inter AS DOUBLE) / na.n, 6) >= 0.9
""",
    tags=("dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment >= 0.9 pairs (sub-document dedup):
    prefix-filtered on the contained side, full index on the
    container side — the asymmetric variant Jaccard misses when a
    small doc sits inside a much larger one."""
    toks = doc_tokens(load_table(spark, sf_dir, "documents"))
    return containment_pairs(toks, 0.9)


@register(
    "dedup_substring_spans",
    oracle="""
WITH sp AS (
  SELECT doc_id,
         unnest(range(1, length(text) - 48 + 2, 16)) AS pos,
         text
  FROM documents
  WHERE length(text) >= 48
), h AS (
  SELECT doc_id, pos, md5(substr(text, CAST(pos AS INT), 48)) AS span_md5
  FROM sp
), rep AS (
  SELECT span_md5,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_occurrences
  FROM h GROUP BY span_md5
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT h.doc_id, h.pos, h.span_md5, r.n_docs, r.n_occurrences
FROM h JOIN rep r USING (span_md5)
""",
    tags=("dedup", "substring", "spans"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-span dedup — the within-document repeated-text
    family (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): find 48-char spans that occur verbatim in two or
    more documents, and report every occurrence with its position, so
    a downstream pass can excise the repeated span while keeping the
    host docs.  Doc-level dedup (exact/minhash/simhash) misses this
    case entirely: boilerplate headers, license blocks, and templated
    paragraphs repeat across otherwise-distinct documents.

    Shingling is stride-16-aligned (W=48, S=16), the hash-grouped
    approximation of the paper's suffix-array approach: any repeated
    region >= W+S-1 chars long is guaranteed to contain at least one
    matching aligned shingle pair when repeats are aligned to the
    stride; stride 1 is the full-recall setting at W/S x the rows
    (still linear in corpus size — NOT quadratic, unlike pair
    enumeration).  At 100 TB: one explode (bounded by chars/S per
    doc), one groupBy on 16-byte hashes with partial aggregation, one
    broadcast-or-shuffle join back on the (tiny) repeated-hash set.
    Spans hash with md5 so the oracle is engine-portable.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 48
    )
    spans = docs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1), F.length("text") - 48 + 1, F.lit(16)
            )
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.md5(
            F.expr("substring(text, pos, 48)").cast("binary")
        ).alias("span_md5"),
    )
    rep = (
        spans.groupBy("span_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return spans.join(rep, "span_md5").select(
        "doc_id", "pos", "span_md5", "n_docs", "n_occurrences"
    )


@register(
    "dedup_canonical_exact",
    oracle="""
WITH c AS (
  SELECT doc_id, n_chars,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]| +',
                                 ' ', 'g'))) AS canon_fp
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY canon_fp)
SELECT c.doc_id, c.n_chars, c.canon_fp,
       CASE WHEN k.doc_id IS NULL THEN FALSE ELSE TRUE END AS is_kept
FROM c LEFT JOIN keep k ON k.doc_id = c.doc_id
""",
    tags=("dedup", "canonical", "exact"),
)
def dedup_canonical_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-exact dedup via canonicalization: lowercase, strip
    non-alphanumerics, collapse whitespace, THEN hash — catching the
    'same document, different formatting' duplicates (case changes,
    punctuation edits, double spaces) that byte-exact dedup_exact
    misses and fuzzy MinHash wastes candidate bandwidth on.  The
    standard first rung of the dedup ladder: exact → canonical →
    fuzzy → semantic, each rung feeding fewer docs to the next.

    Shuffle profile identical to dedup_exact: per-row canonical md5,
    one groupBy on 16-byte fingerprints with partial agg, keep-first
    by min doc_id, broadcast-or-shuffle join back.  The regex runs
    JVM-side inside codegen — no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.trim(
            F.regexp_replace(
                F.lower("text"), "[^a-z0-9 ]| +", " "
            )
        ).cast("binary")
    )
    c = docs.select("doc_id", "n_chars", canon.alias("canon_fp"))
    keep = c.groupBy("canon_fp").agg(F.min("doc_id").alias("keep_id"))
    return c.join(keep, "canon_fp").select(
        "doc_id",
        "n_chars",
        "canon_fp",
        (F.col("doc_id") == F.col("keep_id")).alias("is_kept"),
    )


@register(
    "curation_pipeline_ctrl",
    oracle=f"""
WITH {_CTRL_CORPUS_SQL},
q AS (
  SELECT doc_id, text,
         len(str_split(text, ' ')) AS n_tokens,
         len(list_distinct(str_split(text, ' '))) AS n_unique,
         length(regexp_replace(text, '[a-zA-Z0-9_ ]', '', 'g')) AS n_punct,
         length(text) AS len_chars
  FROM corpus
),
keepq AS (
  SELECT doc_id, text, n_tokens FROM q
  WHERE n_tokens BETWEEN 5 AND 1000
    AND CAST(n_unique AS DOUBLE) / n_tokens > 0.1
    AND CAST(n_punct AS DOUBLE) / len_chars < 0.2
),
ex AS (SELECT min(doc_id) AS doc_id FROM keepq GROUP BY md5(text)),
s1 AS (SELECT k.doc_id, k.text, k.n_tokens
       FROM keepq k JOIN ex USING (doc_id)),
stoks AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM s1
),
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM stoks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM stoks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN stoks a ON a.id = c.id_a
  JOIN stoks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT i.id_b
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6) >= 0.8
)
SELECT s1.doc_id,
       CASE WHEN substr(md5(CAST(s1.doc_id AS VARCHAR)), 1, 2) < 'cd'
            THEN 'train'
            WHEN substr(md5(CAST(s1.doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'val' ELSE 'test' END AS split,
       s1.n_tokens
FROM s1 WHERE s1.doc_id NOT IN (SELECT id_b FROM dups)
""",
    tags=("dedup", "pipeline", "flagship", "bench"),
)
def curation_pipeline_ctrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation flagship on the CONTROLLED-dup-rate corpus (large
    namespaced vocabulary, ~5% injected near-dups) — the honest
    wall-time of a full curation pass, the way dedup_minhash_ctrl is
    for the LSH stage alone: on the raw synthetic table nearly every
    pair is a true duplicate, so `curation_pipeline`'s cost there
    measures the corpus, not the plan.  Same four stages (gate →
    exact → fuzzy → split), same plan shapes; the gate's punct class
    admits the namespacing underscore.
    """
    corpus = _ctrl_corpus(load_table(spark, sf_dir, "documents"))
    t = F.split("text", " ", -1)
    q = corpus.select(
        "doc_id",
        "text",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_unique"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9_ ]", "")).alias(
            "n_punct"
        ),
        F.length("text").alias("len_chars"),
    )
    keepq = q.filter(
        F.col("n_tokens").between(5, 1000)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") > 0.1)
        & (F.col("n_punct").cast("double") / F.col("len_chars") < 0.2)
    ).select("doc_id", "text", "n_tokens")
    ex = (
        keepq.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # The exact-dedup survivor set is consumed by 3-4 downstream
    # branches (band build, verify token sets x2, final join / funnel
    # stages); without materialization each branch re-executes the
    # whole corpus-gen + gate + exact-dedup subtree (no ReusedExchange
    # fires — plans/r13).  One localCheckpoint = one upstream pass.
    # ONE pass, ONE cache (r13 continued): the survivor row carries
    # its sorted distinct-token set out of the exact-dedup join, so
    # the old SECOND sequential checkpoint pass (re-splitting the
    # cached text into a separate set table) is gone, and the cache
    # holds (doc_id, n_tokens, ts) instead of text PLUS a ts table.
    # Downstream only ever needs n_tokens (final join / funnel
    # stages) and ts (band build + verify); the quality gate
    # guarantees text is non-null, so the ts view matches
    # doc_token_sets' null-filtered output exactly.
    s1 = (
        keepq.join(ex, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.array_sort(
                F.array_distinct(F.split(F.col("text"), " ", -1))
            ).alias("ts"),
        )
        .localCheckpoint()
    )
    sets_ = s1.select(F.col("doc_id").alias("id"), "ts")
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    dups = (
        jaccard_verify_sets(cand, sets_, 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    b = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
    return (
        s1.join(dups, "doc_id", "left_anti")
        .select("doc_id", split.alias("split"), "n_tokens")
    )


@register(
    "minhash_calibration",
    oracle=f"""
WITH {_TOKS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sigarr AS (SELECT id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY id),
sets AS (SELECT id, list(DISTINCT tok) AS ts FROM toks GROUP BY id),
m AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i]))
           AS n_match,
         len(list_intersect(ta.ts, tb.ts)) AS n_inter,
         len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))
           AS n_union
  FROM cand c
  JOIN sigarr sa ON c.id_a = sa.id
  JOIN sigarr sb ON c.id_b = sb.id
  JOIN sets ta ON c.id_a = ta.id
  JOIN sets tb ON c.id_b = tb.id
)
SELECT id_a, id_b,
       CAST(n_match AS BIGINT) AS n_match,
       CAST(round(CAST(CAST(n_match AS DOUBLE) / 16.0
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS est_j,
       CAST(round(CAST(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS exact_j,
       CAST(round(CAST(abs(CAST(n_match AS DOUBLE) / 16.0
                           - CAST(n_inter AS DOUBLE)
                             / CAST(n_union AS DOUBLE))
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS abs_err
FROM m
""",
    tags=("dedup", "lsh", "evaluation"),
)
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    the 16-hash Jaccard ESTIMATE (matching-minhash fraction) next to
    the EXACT token-set Jaccard and the absolute error — the report
    that tells a pipeline operator whether the minhash budget (here
    16) is tight enough to trust a 0.8 dedup threshold before
    spending a 100 TB pass on it.  Companion to ann_recall_report
    (which calibrates the ANN index the same way).

    At 100 TB: candidates come from the banded LSH join (4 bands x
    4 rows — never all-pairs); both the signature arrays (16 md5
    strings) and the token-set arrays ride the candidate equi-joins
    at one row per doc per side — the jaccard_verify shape.  The
    synthetic corpus's tiny shared vocabulary makes baseline Jaccard
    high (~0.4), so candidates are dense HERE; on a real web corpus
    the same 4x4 banding admits ~s^4-per-band collisions and the
    candidate set is sparse (dedup_minhash_ctrl measures that
    honestly on the controlled-dup corpus).  Estimate, exact, and
    error are integer-ratio doubles, bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass, shuffle-free signatures (r13): the 16
    # per-seed minhashes are per-row array_min expressions over the
    # distinct-token array — bit-identical to the explode+groupBy
    # ``minhash_signatures``/``lsh_band_signatures`` build (min over
    # a set is order-independent; seed order is preserved in the
    # array), which shuffled 16×|tokens| rows twice.  The keyed row
    # (id, ts, 16-sig array) is materialized once and feeds the band
    # derivation AND both candidate join sides — so the estimate/
    # exact columns ride ONE join per side instead of two.
    sets_ = doc_token_sets(docs)

    def _seed_min(seed: int):
        return F.array_min(
            F.transform(
                F.col("ts"),
                lambda tok: F.md5(
                    F.concat(F.lit(f"{seed}:"), tok).cast("binary")
                ),
            )
        )

    key = sets_.select(
        "id", "ts", F.array(*[_seed_min(s) for s in range(16)]).alias("sig")
    ).localCheckpoint()
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sig", 4 * b + i + 1)
                        for i in range(4)
                    ],
                ).cast("binary")
            ).alias("sig"),
        )
        for b in range(4)
    ]
    bands = key.select(
        "id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    cand = lsh_candidate_pairs(bands)

    j = (
        cand.join(
            key.select(
                F.col("id").alias("id_a"),
                F.col("sig").alias("sig_a"),
                F.col("ts").alias("ts_a"),
            ),
            "id_a",
        )
        .join(
            key.select(
                F.col("id").alias("id_b"),
                F.col("sig").alias("sig_b"),
                F.col("ts").alias("ts_b"),
            ),
            "id_b",
        )
    )
    n_match = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda v: v,
        )
    )
    n_inter = F.size(F.array_intersect("ts_a", "ts_b"))
    n_union = F.size("ts_a") + F.size("ts_b") - n_inter
    est = n_match.cast("double") / F.lit(16.0)
    exact = n_inter.cast("double") / n_union.cast("double")
    return j.select(
        "id_a",
        "id_b",
        n_match.cast("long").alias("n_match"),
        F.round(est.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("est_j"),
        F.round(exact.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("exact_j"),
        F.round(F.abs(est - exact).cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("abs_err"),
    )


@register(
    "lsh_s_curve",
    oracle="""
WITH sample_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
),
toks AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM sample_docs
),
sets AS (SELECT id, list(DISTINCT tok) AS ts FROM toks GROUP BY id),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         len(list_intersect(a.ts, b.ts)) AS inter,
         len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))
           AS uni
  FROM sets a JOIN sets b ON a.id < b.id
),
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
flagged AS (
  SELECT p.id_a, p.id_b,
         least(9, (p.inter * 10) // p.uni) AS decile,
         CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
  FROM pairs p
  LEFT JOIN cand c ON p.id_a = c.id_a AND p.id_b = c.id_b
)
SELECT CAST(decile AS BIGINT) AS decile,
       count(*) AS n_pairs,
       CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
       CAST(round(CAST(CAST(SUM(is_cand) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS hit_rate,
       CAST(round(CAST(
         1.0 - (1.0 - ((CAST(decile AS DOUBLE) + 0.5) / 10.0)
                      * ((CAST(decile AS DOUBLE) + 0.5) / 10.0))
             * (1.0 - ((CAST(decile AS DOUBLE) + 0.5) / 10.0)
                      * ((CAST(decile AS DOUBLE) + 0.5) / 10.0))
             * (1.0 - ((CAST(decile AS DOUBLE) + 0.5) / 10.0)
                      * ((CAST(decile AS DOUBLE) + 0.5) / 10.0))
             * (1.0 - ((CAST(decile AS DOUBLE) + 0.5) / 10.0)
                      * ((CAST(decile AS DOUBLE) + 0.5) / 10.0))
         AS DECIMAL(18,12)), 6) AS DOUBLE) AS theory
FROM flagged GROUP BY decile
""",
    tags=("dedup", "lsh", "evaluation"),
)
def lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH S-curve: for each exact-Jaccard decile of a
    bounded 200-doc sample, the fraction of pairs the 4x2 banding
    actually surfaced as candidates, next to the theoretical
    1-(1-s^2)^4 at the decile midpoint — the calibration a pipeline
    runs BEFORE committing a banding scheme to a 100 TB pass (if
    measured hit rates sag below theory near the dedup threshold,
    the banding loses real duplicates).

    The exhaustive ground truth is QUARANTINED to the fixed sample
    (like cosine_neardup_pairs' tiny-SF recall cross-check): S-curve
    calibration needs all-pairs truth, so production runs it on a
    sample, never the corpus — the sample bound, not the corpus,
    sizes the quadratic term.  Deciles are integer-exact
    ((inter*10) div union); theory uses only double multiplication.

    Completes the measure-before-trust family: minhash_calibration
    (estimator error), ann_recall_report (index recall),
    lsh_s_curve (candidate-generation recall)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    # ONE tokenize pass over the 200-doc sample (r13): the map-side
    # set table (≡ the explode+groupBy form, twin-tested) feeds the
    # exhaustive truth pairs AND the band build.
    sets_ = doc_token_sets(docs).localCheckpoint()
    a = sets_.select(F.col("id").alias("id_a"), F.col("ts").alias("ts_a"))
    b = sets_.select(F.col("id").alias("id_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            (F.size("ts_a") + F.size("ts_b") - inter).alias("uni"),
        )
    )
    cand = lsh_candidate_pairs(
        minhash_band_signatures_sets(sets_)
    ).withColumn("is_c", F.lit(1))
    flagged = pairs.join(cand, ["id_a", "id_b"], "left").select(
        F.least(
            F.lit(9), F.expr("(inter * 10) div uni")
        ).alias("decile"),
        F.coalesce("is_c", F.lit(0)).alias("is_cand"),
    )
    s_mid = (F.col("decile").cast("double") + F.lit(0.5)) / F.lit(10.0)
    one_band_miss = F.lit(1.0) - s_mid * s_mid
    theory = F.lit(1.0) - one_band_miss * one_band_miss * one_band_miss * one_band_miss
    return flagged.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("is_cand").cast("long").alias("n_candidates"),
        F.round(
            (
                F.sum("is_cand").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("hit_rate"),
        F.round(theory.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("theory"),
    ).select(
        F.col("decile").cast("long").alias("decile"),
        "n_pairs",
        "n_candidates",
        "hit_rate",
        "theory",
    )


_SHINGLE_TOKS_SQL = """
toks AS (
  SELECT doc_id AS id,
         unnest(list_distinct([substr(text, CAST(i AS INT), 3)
                               for i in range(1, length(text) - 1)]))
           AS tok
  FROM documents
  WHERE length(text) >= 3
)"""


@register(
    "dedup_minhash_shingles",
    oracle=f"""
WITH {_SHINGLE_TOKS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
{_VERIFY_SQL.format(thr=0.9)}
""",
    tags=("dedup", "lsh", "shingles"),
)
def dedup_minhash_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-shingle MinHash+LSH near-dup pairs: 3-char shingle
    sets (the classic shingling basis — robust to word-boundary
    edits and tokenizer differences, unlike the word-token variant
    dedup_minhash_lsh), 8 minhashes, 4x2 banding, exact shingle-set
    Jaccard verify at 0.9.

    At 100 TB: the shingle explode is a flatMap bounded by document
    length; everything downstream is the standard bucketed-LSH plan
    (never all-pairs), and the stricter 0.9 threshold fits the
    denser similarity a small alphabet's shingle space produces —
    char shingles overlap far more than word tokens on unrelated
    text, so the verify threshold does the discriminating."""
    docs = load_table(spark, sf_dir, "documents")
    # length >= 3 guard: for shorter texts Spark's
    # sequence(1, length-2) DESCENDS (e.g. [1, 0]) and substring's
    # pos-0/negative semantics would still emit junk shingles while
    # the oracle's range() is empty — both engines must emit nothing
    # for sub-shingle documents (the n>=2 frame guard of scene_cuts).
    # ONE shingle pass (r13): the per-doc distinct-shingle array is
    # materialized once map-side and feeds the band build (min over a
    # set is order-independent — bit-identical to the explode+groupBy
    # minhash_signatures/lsh_band_signatures build) AND both verify
    # joins; the old form exploded the shingle mass through two
    # signature shuffles plus a collect_set re-shuffle.
    sets_ = (
        docs.filter(F.length("text") >= 3)
        .select(
            F.col("doc_id").alias("id"),
            F.array_sort(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, length(text) - 2),"
                        " i -> substring(text, i, 3))"
                    )
                )
            ).alias("ts"),
        )
        .localCheckpoint()
    )
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    # materialize_scores: output keeps jaccard (operator docstring).
    return jaccard_verify_sets(cand, sets_, 0.9, materialize_scores=True)


@register(
    "cross_source_dup_matrix",
    oracle="""
WITH fp AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
             str_split(text, ' '))), ',')) AS h,
         source, count(*) AS n
  FROM documents GROUP BY 1, source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(a.n * b.n) AS BIGINT) AS n_dup_pairs,
         count(*) AS n_shared_texts
  FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_shared_texts, n_dup_pairs
FROM pairs
""",
    tags=("dedup", "provenance", "curation"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every pair of sources,
    how many CANONICAL texts (identical distinct-token sets — the
    dedup_canonical_exact basis, robust to word order and
    repetition) they share and how many
    cross-source duplicate pairs that implies — the provenance
    report that tells a curation team which feeds mirror each other
    (so one can be dropped entirely instead of paying per-document
    dedup against it forever).

    At 100 TB: group on (md5, source) first — the join operates on
    the |distinct texts| x |sources-containing| table (16-byte keys),
    never on documents; the per-hash self-join is bounded by the
    number of sources sharing that hash (<= |sources|), the
    basket_lift_pairs shape on content fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.concat_ws(
            ",", F.sort_array(F.array_distinct(F.split("text", " ", -1)))
        ).cast("binary")
    )
    fp = docs.groupBy(canon.alias("h"), "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = fp.select(
        "h", F.col("source").alias("source_a"), F.col("n").alias("na")
    )
    b = fp.select(
        "h", F.col("source").alias("source_b"), F.col("n").alias("nb")
    )
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_texts"),
            F.sum(F.col("na") * F.col("nb"))
            .cast("long")
            .alias("n_dup_pairs"),
        )
        .select("source_a", "source_b", "n_shared_texts", "n_dup_pairs")
    )


@register(
    "curation_funnel_report",
    oracle="""
WITH q AS (
  SELECT doc_id, text,
         len(str_split(text, ' ')) AS n_tokens,
         len(list_distinct(str_split(text, ' '))) AS n_unique,
         length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         length(text) AS len_chars
  FROM documents
),
keepq AS (
  SELECT doc_id, text, n_tokens FROM q
  WHERE n_tokens BETWEEN 5 AND 1000
    AND CAST(n_unique AS DOUBLE) / n_tokens > 0.1
    AND CAST(n_punct AS DOUBLE) / len_chars < 0.2
),
ex AS (SELECT min(doc_id) AS doc_id FROM keepq GROUP BY md5(text)),
s1 AS (SELECT k.doc_id, k.text, k.n_tokens
       FROM keepq k JOIN ex USING (doc_id)),
toks AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM s1
),
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT i.id_b AS doc_id
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6)
        >= 0.8
),
s2 AS (SELECT s1.doc_id, s1.n_tokens FROM s1
       WHERE s1.doc_id NOT IN (SELECT doc_id FROM dups))
SELECT 0 AS stage_no, 'raw' AS stage,
       count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM q
UNION ALL
SELECT 1, 'quality_gate', count(*), CAST(SUM(n_tokens) AS BIGINT)
FROM keepq
UNION ALL
SELECT 2, 'exact_dedup', count(*), CAST(SUM(n_tokens) AS BIGINT)
FROM s1
UNION ALL
SELECT 3, 'fuzzy_dedup', count(*), CAST(SUM(n_tokens) AS BIGINT)
FROM s2
""",
    tags=("dedup", "curation", "audit"),
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL audit: document and token counts after
    every stage of curation_pipeline (raw → quality gate → exact
    dedup → fuzzy dedup) — the per-stage removal accounting a data
    team publishes with each corpus release (how much did each gate
    cost, and was the fuzzy pass worth running after the exact one).
    Same helpers and thresholds as the flagship; the budget numbers
    ARE the flagship's intermediate cardinalities.

    At 100 TB: each stage's count is a counter aggregate over the
    already-pipelined stage output — the audit adds 4 tiny
    aggregates to the pass it describes, not a second pass."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    q = docs.select(
        "doc_id",
        "text",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_unique"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias(
            "n_punct"
        ),
        F.length("text").alias("len_chars"),
    )
    keepq = q.filter(
        F.col("n_tokens").between(5, 1000)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") > 0.1)
        & (F.col("n_punct").cast("double") / F.col("len_chars") < 0.2)
    ).select("doc_id", "text", "n_tokens")
    ex = (
        keepq.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # The exact-dedup survivor set is consumed by 3-4 downstream
    # branches (band build, verify token sets x2, final join / funnel
    # stages); without materialization each branch re-executes the
    # whole corpus-gen + gate + exact-dedup subtree (no ReusedExchange
    # fires — plans/r13).  One localCheckpoint = one upstream pass.
    # ONE pass, ONE cache (r13 continued): the survivor row carries
    # its sorted distinct-token set out of the exact-dedup join, so
    # the old SECOND sequential checkpoint pass (re-splitting the
    # cached text into a separate set table) is gone, and the cache
    # holds (doc_id, n_tokens, ts) instead of text PLUS a ts table.
    # Downstream only ever needs n_tokens (final join / funnel
    # stages) and ts (band build + verify); the quality gate
    # guarantees text is non-null, so the ts view matches
    # doc_token_sets' null-filtered output exactly.
    s1 = (
        keepq.join(ex, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.array_sort(
                F.array_distinct(F.split(F.col("text"), " ", -1))
            ).alias("ts"),
        )
        .localCheckpoint()
    )
    sets_ = s1.select(F.col("doc_id").alias("id"), "ts")
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    dups = (
        jaccard_verify_sets(cand, sets_, 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(dups, "doc_id", "left_anti")

    def stage(df: DataFrame, no: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select("stage_no", "stage", "n_docs", "n_tokens")

    return (
        stage(q, 0, "raw")
        .unionByName(stage(keepq, 1, "quality_gate"))
        .unionByName(stage(s1, 2, "exact_dedup"))
        .unionByName(stage(s2, 3, "fuzzy_dedup"))
    )


@register(
    "dedup_modality_agreement",
    oracle=f"""
WITH {_TOKS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
textp AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6)
        >= 0.8
),
ev AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
       FROM embeddings),
embp AS (
  SELECT q.id AS id_a, c.id AS id_b
  FROM ev q JOIN ev c ON q.id < c.id
  WHERE round(list_sum(list_transform(range(1, 65),
            i -> q.vec[i] * c.vec[i]))
        / (sqrt(list_sum(list_transform(range(1, 65),
               i -> q.vec[i] * q.vec[i])))
         * sqrt(list_sum(list_transform(range(1, 65),
                i -> c.vec[i] * c.vec[i])))), 6) >= 0.4
),
j AS (
  SELECT coalesce(t.id_a, e.id_a) AS id_a,
         CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_text,
         CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_emb
  FROM textp t FULL OUTER JOIN embp e
    ON t.id_a = e.id_a AND t.id_b = e.id_b
)
SELECT CAST(SUM(in_text) AS BIGINT) AS n_text,
       CAST(SUM(in_emb) AS BIGINT) AS n_emb,
       CAST(SUM(in_text * in_emb) AS BIGINT) AS n_both,
       CAST(SUM(in_text * (1 - in_emb)) AS BIGINT) AS text_only,
       CAST(SUM((1 - in_text) * in_emb) AS BIGINT) AS emb_only,
       CAST(round(CAST(CAST(SUM(in_text * in_emb) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS agreement_jaccard
FROM j
""",
    tags=("dedup", "evaluation", "multimodal"),
)
def dedup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-agreement report for near-dup detection: the pair
    sets found by TEXT MinHash-LSH (Jaccard >= 0.8) and by EMBEDDING
    cosine near-dup (>= 0.4) full-outer joined and summarized as
    both / text-only / embedding-only counts plus their Jaccard
    agreement — the methodology check before trusting either
    modality alone (textual near-dups a stale embedding misses;
    semantic dups no token overlap reveals).

    At 100 TB: both sides are the already-bucketed candidate
    pipelines (never all-pairs on the Spark side — the embedding
    side is the banded hyperplane-LSH with verified full recall at
    0.4; the oracle uses the exhaustive form the recall tests
    quarantine); the agreement join is an equi-join on the pair key
    and the report reduces to one row."""
    from distributed_system_spark.operators.similarity import (
        lsh_neardup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass (r13): bands derive from the checkpointed set
    # table the verify also joins.
    sets_ = doc_token_sets(docs).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    textp = jaccard_verify_sets(cand, sets_, 0.8).select("id_a", "id_b")

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    embp = lsh_neardup_pairs(vecs, 0.4).select("id_a", "id_b")

    t = textp.withColumn("in_text", F.lit(1))
    e = embp.withColumn("in_emb", F.lit(1))
    j = t.join(e, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_text", F.lit(0)).alias("in_text"),
        F.coalesce("in_emb", F.lit(0)).alias("in_emb"),
    )
    return j.agg(
        F.sum("in_text").cast("long").alias("n_text"),
        F.sum("in_emb").cast("long").alias("n_emb"),
        F.sum(F.col("in_text") * F.col("in_emb"))
        .cast("long")
        .alias("n_both"),
        F.sum(F.col("in_text") * (F.lit(1) - F.col("in_emb")))
        .cast("long")
        .alias("text_only"),
        F.sum((F.lit(1) - F.col("in_text")) * F.col("in_emb"))
        .cast("long")
        .alias("emb_only"),
        F.round(
            (
                F.sum(F.col("in_text") * F.col("in_emb")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("agreement_jaccard"),
    )


@register(
    "dedup_paragraph_exact",
    oracle="""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(
           [md5(array_to_string(toks[20*j+1: 20*j+20], ' '))
            for j in range(0, CAST((len(toks) + 19) // 20 AS BIGINT))]))
           AS h
  FROM t
),
df AS (SELECT h, count(*) AS nd FROM s GROUP BY h)
SELECT s.doc_id,
       count(*) AS n_segs,
       CAST(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_segs,
       CAST(round(CAST(CAST(sum(CASE WHEN df.nd > 1 THEN 1 ELSE 0 END)
                            AS DOUBLE) / count(*)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS dup_rate
FROM s JOIN df USING (h)
GROUP BY s.doc_id
""",
    tags=("dedup", "paragraph", "llm"),
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document exact dedup diagnostic (the CCNet/RefinedWeb
    line-level dedup shape): each document is cut into non-overlapping
    20-token segments — the paragraph stand-in for this
    newline-free corpus — each distinct segment is md5-hashed, and a
    segment counts as duplicated when its hash occurs in MORE THAN
    ONE document.  Per doc: distinct-segment count, duplicated-
    segment count, and the dup rate that drives the drop/trim
    decision (whole-doc dedup misses boilerplate that rides inside
    otherwise-unique pages; this is the operator that catches it).

    Scale shape: segmentation is per-row array math (explode bounded
    by n_tokens/20); the segment-frequency table is one groupBy on
    the 16-byte hash; the per-doc report joins back on that hash —
    all equi-joins on hashes, no pair emission, linear in total
    segments.  dup_rate goes through DECIMAL so both engines round
    the same ties."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ", -1)
    nseg = F.expr("(size(split(text, ' ', -1)) + 19) div 20")
    segs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0).cast("long"), nseg - 1),
            lambda j: F.md5(
                F.array_join(
                    F.slice(toks, (j * 20 + 1).cast("int"), 20), " "
                ).cast("binary")
            ),
        )
    )
    u = docs.select("doc_id", F.explode(segs).alias("h"))
    freq = u.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    dup = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        u.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            dup.cast("long").alias("n_dup_segs"),
            F.round(
                (dup.cast("double") / F.count(F.lit(1))).cast(
                    "decimal(18,12)"
                ),
                6,
            )
            .cast("double")
            .alias("dup_rate"),
        )
    )


@register(
    "split_leakage_simhash",
    oracle=f"""
WITH {_SIMHASH_SQL},
sp AS (
  SELECT doc_id AS id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val' ELSE 'test' END AS split
  FROM documents
)
SELECT CASE WHEN sa.split = 'test' THEN a.id ELSE b.id END AS test_doc,
       CASE WHEN sa.split = 'test' THEN b.id ELSE a.id END AS train_doc,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a
JOIN fp b ON a.id < b.id
JOIN sp sa ON sa.id = a.id
JOIN sp sb ON sb.id = b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
  AND ((sa.split = 'test' AND sb.split = 'train')
    OR (sa.split = 'train' AND sb.split = 'test'))
""",
    tags=("dedup", "leakage", "split", "llm"),
)
def split_leakage_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY train/test leakage audit: near-duplicate pairs that
    straddle the md5-bucket split (`dataset_split`'s assignment) —
    the companion to `contamination_check`, which only sees EXACT
    8-gram overlap; a lightly paraphrased eval document slips past
    exact grams but not past a Hamming<=3 64-bit SimHash match.
    Output is the leak list (test_doc, train_doc, hamming) a curation
    pass must resolve before the split ships.

    Scale shape: same 8x8-bit banded bucketing as simhash_neardup —
    pigeonhole-lossless for Hamming<=3, so the exhaustive-oracle
    parity is a proof, not a recall gamble; the split sides join in
    AFTER candidate generation (two equi-joins on doc_id), so the
    banded pair volume — not the corpus — bounds the work.  That
    volume is ~n²/32 past ~10^6 docs (8-bit buckets saturate), so
    the FOURTH-decade form is ``split_leakage_simhash_ctrl``:
    128-bit fingerprints banded 4x32 (round-9)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_neardup_pairs(simhash64_docs(docs), max_hamming=3)
    b = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    sp = docs.select(
        F.col("doc_id").alias("id"),
        F.when(b < "cd", "train")
        .when(b < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )
    j = (
        pairs.join(
            sp.select(
                F.col("id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            sp.select(
                F.col("id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(
            (
                (F.col("split_a") == "test") & (F.col("split_b") == "train")
            )
            | (
                (F.col("split_a") == "train") & (F.col("split_b") == "test")
            )
        )
    )
    return j.select(
        F.when(F.col("split_a") == "test", F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("test_doc"),
        F.when(F.col("split_a") == "test", F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("train_doc"),
        "hamming",
    )


# High-entropy CROSS-MODAL control corpus: each doc's text becomes
# m = max(n_tokens/8, 2) md5 blocks derived from its doc_id — byte
# content with uniform brightness statistics (so image average-hashes
# stop saturating the way ascii word-soup does) AND doc-unique token
# sets (so simhash buckets stay near-singleton); 5% exact clones
# (doc_id % 20 == 0, id + 10^12 — above every scaleup-shifted id,
# the _CTRL_CLONE_OFFSET argument) are the planted truth both
# modalities must find.  Both engines derive it with the same
# expressions, so the ctrl queries stay fully oracle-checked.
_XMODAL_CTRL_SQL = f"""
xm AS (
  SELECT doc_id,
         array_to_string([
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))
           for j in range(0, greatest(len(str_split(text, ' ')) // 8, 2))
         ], ' ') AS text
  FROM documents
),
xcorpus AS (
  SELECT doc_id, text FROM xm
  UNION ALL
  SELECT doc_id + {_CTRL_CLONE_OFFSET} AS doc_id, text FROM xm
  WHERE doc_id % 20 = 0
)"""

# 128-bit SimHash CTE chain over ``xcorpus`` (two signed-BIGINT
# halves, digits 1-16 -> sh1 / 17-32 -> sh0, each packed exactly like
# _SIMHASH_SQL incl. the BIGINT-minimum sign-bit literal).  128 bits
# exist for the BANDING: 4 x 32-bit bands keep buckets at n/2^32 docs
# where the widest 64-bit banding (4 x 16) saturates past ~10^6 docs.
_SIMHASH128_SQL = """
toks128 AS (
  SELECT doc_id AS id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM xcorpus
),
digits128 AS (
  SELECT id, d,
         strpos('0123456789abcdef', substr(md5(tok), CAST(d AS INT), 1)) - 1
           AS v
  FROM toks128 CROSS JOIN (SELECT unnest(range(1, 33)) AS d) p
),
dmaj128 AS (
  SELECT id, d,
         CASE WHEN sum((v >> 0) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m0,
         CASE WHEN sum((v >> 1) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m1,
         CASE WHEN sum((v >> 2) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m2,
         CASE WHEN sum((v >> 3) & 1) * 2 > count(*) THEN 1 ELSE 0 END AS m3
  FROM digits128 GROUP BY id, d
),
packed128 AS (
  SELECT id,
    CASE WHEN d <= 16 THEN
        (CASE WHEN d = 1 AND m0 = 1
              THEN CAST(-9223372036854775808 AS BIGINT)
              ELSE CAST(m0 AS BIGINT) << CAST(greatest(67 - 4*d, 0) AS INT)
         END)
      | (CAST(m1 AS BIGINT) << CAST(greatest(66 - 4*d, 0) AS INT))
      | (CAST(m2 AS BIGINT) << CAST(greatest(65 - 4*d, 0) AS INT))
      | (CAST(m3 AS BIGINT) << CAST(greatest(64 - 4*d, 0) AS INT))
    ELSE 0 END AS c1,
    CASE WHEN d > 16 THEN
        (CASE WHEN d = 17 AND m0 = 1
              THEN CAST(-9223372036854775808 AS BIGINT)
              ELSE CAST(m0 AS BIGINT)
                   << CAST(greatest(67 - 4*(d-16), 0) AS INT)
         END)
      | (CAST(m1 AS BIGINT) << CAST(greatest(66 - 4*(d-16), 0) AS INT))
      | (CAST(m2 AS BIGINT) << CAST(greatest(65 - 4*(d-16), 0) AS INT))
      | (CAST(m3 AS BIGINT) << CAST(greatest(64 - 4*(d-16), 0) AS INT))
    ELSE 0 END AS c0
  FROM dmaj128
),
fp128 AS (
  SELECT id, bit_or(c1) AS sh1, bit_or(c0) AS sh0 FROM packed128
  GROUP BY id
)"""


def _xmodal_ctrl(docs: DataFrame) -> DataFrame:
    """Spark side of ``_XMODAL_CTRL_SQL`` (same expressions)."""
    m = F.greatest(
        F.expr("size(split(text, ' ', -1)) div 8"), F.lit(2).cast("long")
    )
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("long"), m - 1),
            lambda j: F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    j.cast("string"),
                ).cast("binary")
            ),
        ),
        " ",
    )
    xm = docs.select("doc_id", text.alias("text"))
    clones = xm.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + _CTRL_CLONE_OFFSET).alias("doc_id"), "text"
    )
    return xm.unionByName(clones)


@register(
    "split_leakage_simhash_ctrl",
    oracle=f"""
WITH {_XMODAL_CTRL_SQL},
{_SIMHASH128_SQL},
sp AS (
  SELECT doc_id AS id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val' ELSE 'test' END AS split
  FROM xcorpus
)
SELECT CASE WHEN sa.split = 'test' THEN a.id ELSE b.id END AS test_doc,
       CASE WHEN sa.split = 'test' THEN b.id ELSE a.id END AS train_doc,
       CAST(bit_count(xor(a.sh1, b.sh1))
            + bit_count(xor(a.sh0, b.sh0)) AS INT) AS hamming
FROM fp128 a
JOIN fp128 b ON a.id < b.id
JOIN sp sa ON sa.id = a.id
JOIN sp sb ON sb.id = b.id
WHERE bit_count(xor(a.sh1, b.sh1)) + bit_count(xor(a.sh0, b.sh0)) <= 3
  AND ((sa.split = 'test' AND sb.split = 'train')
    OR (sa.split = 'train' AND sb.split = 'test'))
""",
    tags=("dedup", "leakage", "split", "llm", "bench"),
)
def split_leakage_simhash_ctrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``split_leakage_simhash`` rebuilt for the FOURTH scale decade:
    the raw query's 8x8-bit banding makes candidates ~n²/32 on ANY
    corpus (a 64-bit fingerprint cannot band wider than 4 x 16 and
    stay pigeonhole-lossless at hamming <= 3), so its decade table
    stops where the shuffle outgrows one node.  This ctrl form is the
    production design: 128-bit SimHash (``simhash128``) banded
    4 x 32 bits — buckets hold n/2^32 expected docs, candidates stay
    ~linear past 10^7 docs — over the high-entropy controlled corpus
    (``_XMODAL_CTRL_SQL``: doc-unique md5-block token sets, 5% exact
    clones planted as truth).  Leaks are clone pairs straddling the
    md5-bucket split; the oracle is the EXHAUSTIVE all-pairs answer,
    so banding recall is proven, not sampled.

    Scale shape: fingerprints are one row per doc; the pair join is
    equi on (band, 32-bit bucket); split membership joins in AFTER
    candidate generation.  The fingerprint WIDTH, not the band
    count, is what grew — the same knob ``lsh_neardup_adaptive``
    turns, applied to SimHash."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = _xmodal_ctrl(docs)
    pairs = simhash128_neardup_pairs(
        simhash128_docs(corpus), max_hamming=3
    )
    b = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    sp = corpus.select(
        F.col("doc_id").alias("id"),
        F.when(b < "cd", "train")
        .when(b < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )
    j = (
        pairs.join(
            sp.select(
                F.col("id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            sp.select(
                F.col("id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(
            (
                (F.col("split_a") == "test") & (F.col("split_b") == "train")
            )
            | (
                (F.col("split_a") == "train") & (F.col("split_b") == "test")
            )
        )
    )
    return j.select(
        F.when(F.col("split_a") == "test", F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("test_doc"),
        F.when(F.col("split_a") == "test", F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("train_doc"),
        "hamming",
    )


@register(
    "dedup_incremental_ctrl",
    oracle=f"""
WITH {_CTRL_CORPUS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
  WHERE b.id >= {_CTRL_CLONE_OFFSET}
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT i.id_b
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6)
        >= 0.8
)
SELECT c.doc_id,
       CAST(len(str_split(c.text, ' ')) AS BIGINT) AS n_tokens,
       c.doc_id IN (SELECT id_b FROM dups) AS is_dup
FROM corpus c WHERE c.doc_id >= {_CTRL_CLONE_OFFSET}
""",
    tags=("dedup", "incremental", "bench"),
)
def dedup_incremental_ctrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup on the CONTROLLED-dup-rate corpus — the
    honest wall-time measurement for the standing-index steady state,
    the ctrl twin of ``dedup_incremental`` exactly as
    ``dedup_minhash_ctrl`` is the ctrl twin of ``dedup_minhash_lsh``:
    the raw synthetic corpus's ~31-word vocabulary makes nearly every
    pair a TRUE near-dup, so the raw incremental query's candidate
    volume is the data's degeneracy, not the plan's (measured: at the
    FOURTH scale decade, 5 M docs, the raw query's true-candidate
    shuffle exceeded local disk — SCALE.md round-8).  Here the NEW
    batch is the injected-clone id range (doc_id >= 10^12 — above
    every scaleup-shifted base id, so the increment stays ~5% of the
    corpus at EVERY decade; ADVICE r8), every clone's only near-dup
    is its source, and the verdict per new doc (is_dup) certifies the
    keep-first rule.

    Scale shape identical to dedup_incremental: the candidate join is
    new x colliding-bucket only (the id_b >= 10^12 filter lands
    INSIDE the candidate generation, before verification) — history
    is never re-deduped, signatures of the increment join the
    standing band index and survivors append."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = _ctrl_corpus(docs)
    # ONE tokenize pass over the generated corpus (r13): the ctrl
    # text-rewrite + split runs once into the checkpointed set table.
    sets_ = doc_token_sets(corpus).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_)).filter(
        F.col("id_b") >= _CTRL_CLONE_OFFSET
    )
    dup_new = (
        jaccard_verify_sets(cand, sets_, 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        corpus.filter(F.col("doc_id") >= _CTRL_CLONE_OFFSET)
        .select(
            "doc_id",
            F.size(F.split("text", " ", -1)).cast("long").alias(
                "n_tokens"
            ),
        )
        .join(dup_new, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.col("hit").isNotNull().alias("is_dup"),
        )
    )


_SUBSTR_SPAN_ORACLE = """
WITH corpus AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 1 AND p.doc_id IS NOT NULL
                   AND len(str_split(p.text, ' ')) >= 18
              THEN d.text || ' ' ||
                   array_to_string(str_split(p.text, ' ')[4:18], ' ')
              ELSE d.text END AS text
  FROM documents d
  LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
),
t AS (
  SELECT doc_id, str_split(text, ' ') AS toks,
         len(str_split(text, ' ')) AS n FROM corpus
),
pos AS (
  -- position range derived from the corpus' own max token count so
  -- a longer-than-expected doc can never silently diverge from the
  -- uncapped Spark side (r12 ADVICE; the fixed range(1, 1000) form
  -- capped shingle positions at j <= 999)
  SELECT doc_id, n, CAST(j AS BIGINT) AS j,
         md5(array_to_string(toks[j:j+7], ' ')) AS h
  FROM t CROSS JOIN (SELECT unnest(range(1,
           (SELECT coalesce(max(n), 7) - 6 FROM t))) AS j) s
  WHERE j <= n - 7
),
freq AS (
  SELECT h, count(*) AS ndocs
  FROM (SELECT DISTINCT doc_id, h FROM pos) GROUP BY h
),
dup AS (
  SELECT p.doc_id, p.j FROM pos p JOIN freq f USING (h)
  WHERE f.ndocs > 1
),
chain AS (
  SELECT doc_id, j,
         CASE WHEN j - lag(j) OVER (PARTITION BY doc_id ORDER BY j) <= 8
              THEN 0 ELSE 1 END AS new_span
  FROM dup
),
spans AS (
  SELECT doc_id, j,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY j
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM chain
),
agg AS (
  SELECT doc_id, span_id, max(j) - min(j) + 8 AS covered
  FROM spans GROUP BY doc_id, span_id
),
per_doc AS (
  SELECT doc_id, count(*) AS n_dup_spans,
         CAST(sum(covered) AS BIGINT) AS covered_tokens
  FROM agg GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(p.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(round(CAST(CAST(coalesce(p.covered_tokens, 0) AS DOUBLE) / t.n
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS coverage_rate
FROM t LEFT JOIN per_doc p USING (doc_id)
"""


def _substr_corpus(docs: DataFrame) -> DataFrame:
    """The planted-quote corpus (doc_id % 10 == 1 appends predecessor
    tokens 4..18) as (doc_id, text).

    Only 2/10 of the corpus participates in the predecessor join —
    the quote targets (doc_id % 10 == 1) and their sources (% 10 ==
    0) — so BOTH join inputs are pre-filtered to their 1/10 slice and
    the untouched 8/10 bypasses the join entirely via union.  The
    previous full-corpus self-join sorted every text byte twice: its
    spill was measured at 53 GB during the sf1000d corpus_stage
    (db_substr_incr2.log, 2026-08-16), a base that left no headroom
    for the day-0 index build; the filtered join cuts that sort mass
    ~5× without changing a single output row (the when/otherwise
    fallback semantics are preserved on the quote slice)."""
    quotes = docs.filter(F.col("doc_id") % 10 == 1)
    src = docs.filter((F.col("doc_id") + 1) % 10 == 1).select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.split("text", " ", -1).alias("p_toks"),
    )
    planted = quotes.join(src, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.col("p_toks").isNotNull() & (F.size("p_toks") >= 18),
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(F.slice("p_toks", 4, 15), " "),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    rest = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id", "text"
    )
    return planted.unionByName(rest)


def _substr_positions_from_corpus(
    corpus: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(t, pos) from an already-built planted corpus: (doc_id, n) and
    every 8-token shingle position as (doc_id, j, h)."""
    t = corpus.select(
        "doc_id",
        F.split("text", " ", -1).alias("toks"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n"),
    )
    pos = (
        t.select(
            "doc_id",
            "n",
            "toks",
            F.explode(
                F.when(
                    F.col("n") >= 8,
                    F.sequence(F.lit(1).cast("long"), F.col("n") - 7),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("j"),
        )
        .select(
            "doc_id",
            "j",
            # 16-byte BINARY hash, not the 32-char hex string: the
            # position rows are the corpus-scale shuffle payload of
            # this family, and halving the key halves every shuffle
            # (round-11; the oracle is output-level, so the key
            # representation is free to be compact).
            F.unhex(
                F.md5(
                    F.array_join(
                        F.slice("toks", F.col("j").cast("int"), 8), " "
                    ).cast("binary")
                )
            ).alias("h"),
        )
    )
    return t, pos


def _substr_positions(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One-shot convenience: corpus build + positions in one plan."""
    return _substr_positions_from_corpus(_substr_corpus(docs))


def _substr_dup_positions(
    pos: DataFrame, broadcast_hot: bool = False
) -> DataFrame:
    """Duplicated positions: shingles occurring in MORE THAN ONE doc.

    min(doc_id) != max(doc_id) per shingle hash is exactly the
    "appears in >1 distinct doc" test (within-doc repeats share the
    doc_id) — ONE map-side-combinable groupBy where the previous
    build paid a (doc_id, h) distinct AND a re-shuffle of the
    positions for the frequency join (round-11: that double
    corpus-scale shuffle is what filled one node's disk at the fifth
    decade).

    ``broadcast_hot``: with it, the hot-hash set joins back as a
    BROADCAST and the positions never shuffle for the join at all —
    the per-slice mode of the disk-bounded variant, where the hot
    set is 1/K of an already-output-scale table (measured: the
    shuffle-join form's two coexisting positions-scale shuffle file
    sets were 47 GB for ONE sf1000d slice at K=8; broadcast mode
    halves the slice's footprint to the aggregate alone).

    Default (one-shot) mode is a single h-partitioned WINDOW filter
    (r14, guide §2.4): the groupBy+join-back shape executed the whole
    scan+shingle+md5 ``pos`` subtree TWICE (the aggregate and join
    sides project different columns, so no exchange is reusable) and
    shuffled the position mass twice; ``min(doc_id) over (partition
    by h) != max(...)`` is the same in->1-doc test over ONE exchange
    and ONE scan.  A/B (5 interleaved rounds, sf0.1): 2.07 -> 1.42 s
    mins, lower in all five; dup set bit-identical (exceptAll 0/0
    both directions).  Skew note: a degenerate hot shingle's group is
    buffered by WindowExec's spilling row array instead of streamed
    by the join — bounded by the same per-key position count the SMJ
    sort already paid, and the disk-valved paths keep the broadcast
    join form.  The two forms agree only while ``h`` is never null
    (the join drops null keys, the window keeps them); the md5 of a
    non-null shingle never is, and test_substr_shingle_hash_never_null
    pins it."""
    if broadcast_hot:
        hot = (
            pos.groupBy("h")
            .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
            .filter(F.col("mn") != F.col("mx"))
            .select("h")
        )
        return pos.join(F.broadcast(hot), "h").select("doc_id", "j")
    from pyspark.sql import Window

    w = Window.partitionBy("h")
    return (
        pos.withColumn("mn", F.min("doc_id").over(w))
        .withColumn("mx", F.max("doc_id").over(w))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "j")
    )


def _substr_span_report(t: DataFrame, dup: DataFrame) -> DataFrame:
    """Chain duplicated positions (gap <= 8) into maximal spans and
    report per-doc span count / covered-token union / coverage rate."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("j")
    chain = dup.withColumn(
        "new_span",
        F.when(F.col("j") - F.lag("j").over(w) <= 8, 0).otherwise(1),
    )
    spans = chain.withColumn(
        "span_id",
        F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    agg = spans.groupBy("doc_id", "span_id").agg(
        (F.max("j") - F.min("j") + 8).alias("covered")
    )
    per_doc = agg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("covered").cast("long").alias("covered_tokens"),
    )
    return (
        t.select("doc_id", "n")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.col("n").alias("n_tokens"),
            F.round(
                (
                    F.coalesce("covered_tokens", F.lit(0)).cast("double")
                    / F.col("n")
                ).cast("decimal(18,12)"),
                6,
            )
            .cast("double")
            .alias("coverage_rate"),
        )
    )


@register(
    "dedup_substring_chains",
    oracle=_SUBSTR_SPAN_ORACLE,
    tags=("dedup", "substring", "llm", "curation"),
)
def dedup_substring_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc EXACT-SUBSTRING dedup (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better"
    suffix-array pass, re-expressed as overlapping shingle chains):
    every 8-token shingle at EVERY position is hashed, a position is
    duplicated when its shingle occurs in more than one document, and
    consecutive duplicated positions (gap <= 8, i.e. contiguous or
    touching coverage) chain into maximal duplicated SPANS — so a
    copied passage is caught at ARBITRARY offset, which the
    fixed-20-token segmentation of ``dedup_paragraph_exact`` and the
    stride-16 char shingling of ``dedup_substring_spans`` miss
    whenever the copy is not segment/stride-aligned.  Per doc: span count,
    exact covered-token union (spans are merged precisely when their
    coverage is contiguous, so sum(last-first+8) IS the union size),
    and the coverage rate driving a trim/drop decision.

    Recall is PROVEN by planted quotes, the ctrl discipline: docs
    with doc_id % 10 = 1 append tokens 4..18 of their predecessor
    doc (15 tokens => 8 guaranteed shared shingle positions at an
    unaligned offset); tests/test_llm_ops.py asserts every planted
    doc reports a span covering >= 15 tokens.

    Scale shape: the shingle explode is ~1 row per token (vs 8x for
    minhash signatures); the frequency table is one partial-agg
    groupBy on the 16-byte hash; the dup join is position-row x
    one-freq-row — NO pair emission anywhere, so hot boilerplate
    shingles cost their posting count, never posting².  The span
    chain is a per-doc window (bounded by document length, the
    bounded-cardinality argument).  The oracle derives its position
    range from the corpus' max token count, so both sides are
    effectively uncapped."""
    t, pos = _substr_positions(load_table(spark, sf_dir, "documents"))
    return _substr_span_report(t, _substr_dup_positions(pos))


@register(
    "dedup_substring_chains_sliced",
    oracle=_SUBSTR_SPAN_ORACLE,
    tags=("dedup", "substring", "llm", "curation", "disk-bounded"),
)
def dedup_substring_chains_sliced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_substring_chains`` under a BOUNDED-DISK execution plan
    (r10 verdict item #7): the one-shot form's shingle-position
    shuffle (distinct + frequency join over ~1 row/token) is what ran
    a single node out of spill disk at the fifth decade (sf1000d, 50 M
    docs — SCALE.md).  This variant partitions the shingle HASH SPACE
    into K slices (first two md5 hex digits mod K) and processes the
    slices SEQUENTIALLY: slice k's distinct/frequency/dup-join
    touches only its own ~1/K of the position rows, its duplicated
    positions land in a parquet staging piece, and its shuffle files
    are released before slice k+1 starts — peak scratch disk is
    ~1/K of the one-shot form's, at the cost of re-running the
    scan+shingle explode K times (disk-for-CPU, the external-sort
    trade).  The union of slices is EXACTLY the one-shot dup set
    (h-buckets partition the hash space), so the span chain and the
    oracle are unchanged.

    On a real cluster the one-shot plan is right (aggregate disk
    scales with executors); this form is the shape to reach for when
    scratch space, not CPU, is the binding constraint.  K is
    ``_SLICES``; the bucket key is the first TWO hex digits (256
    values), so slices stay even for any K that divides the space
    reasonably (a single-digit key capped K at 16 and made K=12's
    bucket 0 double-width, measured as a 2/16-of-the-space spill
    spike at sf1000d)."""
    n_slices = _SLICES
    root = fresh_dir("substr-sliced")
    # Stage the planted corpus ONCE: the corpus build is a full-corpus
    # self-join whose sort spill is a ~35 GB scratch CONSTANT at the
    # fifth decade — paid per slice, it erases the slicing's whole
    # disk bound (measured: K=8 and K=16 slices both peaked ~47 GB
    # before this staging).  One parquet write ≈ the documents table's
    # own size; every slice then scans it join-free.
    _substr_corpus(load_table(spark, sf_dir, "documents")).write.mode(
        "overwrite"
    ).parquet(f"{root}/corpus")
    spark.sparkContext._jvm.System.gc()
    staged = spark.read.schema("doc_id BIGINT, text STRING").parquet(
        f"{root}/corpus"
    )
    t, pos = _substr_positions_from_corpus(staged)
    # bucket from the first binary hash byte (256 even slices) —
    # computed map-side, so the slice filter prunes BEFORE any shuffle
    bucket = F.conv(F.substring(F.hex("h"), 1, 2), 16, 10).cast(
        "int"
    ) % n_slices
    for k in range(n_slices):
        pos_k = pos.filter(bucket == k)
        dup_k = _substr_dup_positions(pos_k, broadcast_hot=True)
        dup_k.write.mode("overwrite").parquet(f"{root}/slices/slice={k}")
        # Release the finished slice's shuffle files before the next
        # slice shuffles its own — the step that bounds peak scratch
        # disk at ~1/K.  ContextCleaner removes them when the JVM-side
        # references are collected; its periodic GC (default 30 min)
        # is too slow for back-to-back slices, so force one.
        del pos_k, dup_k
        spark.sparkContext._jvm.System.gc()
    dup = (
        spark.read.schema("doc_id BIGINT, j BIGINT")
        .parquet(f"{root}/slices")
        .select("doc_id", "j")
    )
    return _substr_span_report(t, dup)


@register(
    "dedup_substring_chains_incr",
    oracle=_SUBSTR_SPAN_ORACLE + "WHERE t.doc_id >= 400\n",
    tags=("dedup", "substring", "llm", "incremental"),
)
def dedup_substring_chains_incr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STANDING-INDEX exact-substring dedup: the Lee-et-al shingle
    chain (``dedup_substring_chains``) as never-reprocess-history
    index maintenance — the form text MinHash
    (``stream_dedup_sig_index``), image aHash
    (``stream_phash_sig_index``), and embeddings (``ann_index_upsert``)
    already have, completing the incremental story for the fourth
    dedup family (r11 verdict item #6; reference analog: per-append
    event callbacks, mock_sdfs_master.cpp:35-67).

    Day 0 shingles the HISTORY docs (doc_id < 400) once and persists
    only the shingle FREQUENCY table as (h, mn, mx) = (16-byte hash,
    min doc_id, max doc_id) — min/max are mergeable, and
    "occurs in >1 distinct doc" is exactly mn != mx after any merge,
    so the standing index never needs history's position rows, let
    alone its text.  Each arriving batch (day 1: 400-699, day 2:
    700+) shingles ONLY its own docs, stages its own positions, and
    APPENDS its (h, mn, mx) piece — history bytes are never
    re-tokenized, the LSM append-only discipline with merge-on-read.
    The returned report is the merge-time readout over the NEW docs:
    merged min/max across all pieces gives the hot-shingle set, the
    staged new-doc positions join it (position-row x one-freq-row, no
    pair emission), and spans chain per doc exactly as the one-shot
    form.  The oracle recomputes everything from scratch over the
    union corpus restricted to the new docs, so a green row certifies
    incremental-maintenance == full-rebuild — the ``ann_index_upsert``
    certificate, which holds because min/max doc_id are
    order-insensitive mergeable statistics.

    Scale: each batch pass is linear in ITS OWN token count (the
    shingle explode + one partial-agg groupBy on the 16-byte hash);
    the index grows with distinct-shingle count, not corpus bytes;
    the merge-on-read is one map-side-combinable groupBy over the
    pieces.  At 100 TB/day this is the only shape that works — the
    one-shot form's cost grows with TOTAL corpus size every run,
    this one's with the day's arrivals."""
    import functools

    from distributed_system_spark.concurrency import eager_all

    docs = load_table(spark, sf_dir, "documents")
    root = fresh_dir("substr-incr")
    # The planted-quote corpus is the shared test fixture — built over
    # the union (the oracle does the same), STAGED ONCE (its self-join
    # would otherwise re-run per batch — the sliced form's lesson),
    # then split into arrival batches.  The operator itself never
    # re-reads history after day 0.
    _substr_corpus(docs).write.mode("overwrite").parquet(f"{root}/corpus")
    corpus = spark.read.schema("doc_id BIGINT, text STRING").parquet(
        f"{root}/corpus"
    )
    # The registered oracle restricts its report to doc_id >= 400,
    # the first cut.
    batches = [
        ("0", F.col("doc_id") < 400),
        ("1", (F.col("doc_id") >= 400) & (F.col("doc_id") < 700)),
        ("2", F.col("doc_id") >= 700),
    ]

    def _ingest_day(day: str, pred) -> None:
        t_b, pos_b = _substr_positions_from_corpus(corpus.filter(pred))
        if day != "0":
            # A batch's own rows are the day's arrivals — staged once
            # at ingest so the readout never re-shingles them either.
            pos_b.write.mode("overwrite").parquet(f"{root}/pos/day={day}")
            t_b.select("doc_id", "n").write.mode("overwrite").parquet(
                f"{root}/meta/day={day}"
            )
            pos_b = spark.read.schema(
                "doc_id BIGINT, j BIGINT, h BINARY"
            ).parquet(f"{root}/pos/day={day}")
        pos_b.groupBy("h").agg(
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        ).write.mode("overwrite").parquet(f"{root}/freq/day={day}")

    # The three day jobs are mutually independent by construction
    # (each shingles and writes only its own docs to its own
    # directory; merging happens at readout), so they are submitted
    # together and Spark overlaps them (guide §2.6).
    eager_all(
        spark, *(functools.partial(_ingest_day, *b) for b in batches)
    )
    new_pos = spark.read.schema(
        "doc_id BIGINT, j BIGINT, h BINARY"
    ).parquet(f"{root}/pos")
    new_meta = spark.read.schema("doc_id BIGINT, n BIGINT").parquet(
        f"{root}/meta"
    )
    # The merge-on-read readout, restricted to the NEW docs' own
    # hashes BEFORE the merge shuffles: the report only ever needs
    # the hot verdict for shingles the arriving batches contain, and
    # restricting the (h, mn, mx) merge to that set cannot change any
    # new position's mn != mx outcome.  The standing index is scanned
    # map-side against a broadcast of the batch's distinct hashes —
    # the batch-restricted probe the streaming twin already does —
    # so readout shuffle mass is batch-scale, not index-scale (the
    # marginal-cost claim, measured in SCALE.md).
    new_h = new_pos.select("h").distinct()
    hot = (
        spark.read.schema("h BINARY, mn BIGINT, mx BIGINT")
        .parquet(f"{root}/freq")
        .join(F.broadcast(new_h), "h", "leftsemi")
        .groupBy("h")
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    dup = new_pos.join(F.broadcast(hot), "h").select("doc_id", "j")
    return _substr_span_report(new_meta, dup)


@register(
    "dataset_group_kfold",
    oracle=f"""
WITH RECURSIVE
{_TOKS_SQL.lstrip()},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a AS src, i.id_b AS dst
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6)
        >= 0.8
),
sym AS (SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs),
walk(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id
),
cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
folds AS (
  SELECT id, comp,
         CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(comp AS VARCHAR)), 1, 1)) - 1
              AS BIGINT) % 5 AS fold,
         CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(id AS VARCHAR)), 1, 1)) - 1
              AS BIGINT) % 5 AS naive_fold
  FROM cc
)
SELECT fold, count(*) AS n_docs,
       count(DISTINCT comp) AS n_groups,
       CAST(sum(CASE WHEN fold <> naive_fold THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM folds GROUP BY fold
""",
    tags=("dedup", "training-prep", "kfold", "iterative"),
)
def dataset_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE group k-fold: fold assignment by near-duplicate
    GROUP, not by document.  dataset_kfold's doc-level md5 folds let
    two near-copies land in different folds — cross-validation then
    scores the model on a paraphrase of its own training data.  Here
    the certified MinHash+LSH pair rule (dedup_minhash_lsh: 8 hashes,
    4 bands x 2 rows, exact-Jaccard verify >= 0.8) defines edges,
    connected components (operators/dedup.py::connected_components)
    merge them into groups, and the GROUP id's first md5 hex digit
    mod 5 is the fold — every member of a component shares a fold by
    construction.  This is sklearn GroupKFold with groups discovered
    by dedup, the split discipline real pretraining evals use.

    Output per fold: doc count, group count, and n_moved — docs whose
    naive doc-level fold differs from their group fold, i.e. the
    would-have-leaked mass this operator repairs.

    Scale shape: candidates are banded equi-joins (never corpus²),
    components run O(diameter) min-label join rounds — near-dup
    graphs are star-like, converging in 2-3 — and fold assignment is
    a pure projection; the report is a 5-row aggregate.  The oracle
    reproduces the fixpoint with a recursive CTE over the identical
    md5 pair rule."""
    from distributed_system_spark.operators.dedup import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass (r13): bands derive from the checkpointed set
    # table the verify also joins.
    sets_ = doc_token_sets(docs).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    pairs = jaccard_verify_sets(cand, sets_, 0.8)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(
        edges, docs.select(F.col("doc_id").alias("id"))
    )

    def fold_of(c):
        return (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(c.cast("string").cast("binary")), 1, 1),
            )
            - 1
        ).cast("long") % 5

    folds = cc.select(
        "id",
        "comp",
        fold_of(F.col("comp")).alias("fold"),
        fold_of(F.col("id")).alias("naive_fold"),
    )
    return folds.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("comp").alias("n_groups"),
        F.sum(F.when(F.col("fold") != F.col("naive_fold"), 1).otherwise(0))
        .cast("long")
        .alias("n_moved"),
    )


@register(
    "contamination_fuzzy",
    oracle="""
WITH assign AS (
  SELECT doc_id, text,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val' ELSE 'test' END AS split
  FROM documents
),
toks AS (
  SELECT doc_id AS id, split,
         unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM assign WHERE split <> 'val'
),
mh AS (
  SELECT id, split, seed,
         min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, split, seed
),
bands AS (
  SELECT id, split, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, split, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT te.id AS id_a, tr.id AS id_b
  FROM bands te JOIN bands tr
    ON te.band = tr.band AND te.sig = tr.sig
   AND te.split = 'test' AND tr.split = 'train'
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a AS test_doc, i.id_b AS train_doc,
       round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6)
         AS jaccard
FROM inter i
JOIN sizes na ON na.id = i.id_a
JOIN sizes nb ON nb.id = i.id_b
WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6) >= 0.7
""",
    tags=("dedup", "contamination", "lsh"),
)
def contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY train/test decontamination: MinHash-band candidates
    BETWEEN the splits, verified by exact token-set Jaccard >= 0.7 —
    the near-duplicate contamination `contamination_check`'s exact
    8-gram rule misses (a paraphrased or lightly-edited eval document
    shares few verbatim 8-grams but keeps a high token-set Jaccard).
    Split assignment is dataset_split's md5 buckets, so this composes
    with the shipped split exactly.

    Scale shape: signatures are computed ONCE over the union of both
    splits (a doc's MinHash depends only on its own tokens), the
    candidate join is banded-equi between the test and train band
    tables — never test x train — and verification touches candidate
    pairs only, pruned by the Bayardo length filter inside
    jaccard_verify.  Recall is the published S-curve: at the 4-band x
    2-row setting, P(candidate | s=0.7) ~ 93%, rising to 98% by
    s=0.8; the oracle mirrors the identical md5 band rule so the
    certified output is exactly the LSH-candidate subset."""
    docs = load_table(spark, sf_dir, "documents")
    b2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(b2 < "cd", "train").when(b2 < "e6", "val").otherwise("test")
    )
    nonval = docs.withColumn("split", split).filter(
        F.col("split") != "val"
    )
    # ONE tokenize pass (r13): the checkpointed set table feeds the
    # band build and both verify joins.
    sets_ = doc_token_sets(nonval).localCheckpoint()
    # te and tr are two consumers of the band table — materialize it
    # once or the 8-md5-per-token band build runs twice (no
    # ReusedExchange across the branches; plans/r13).  The split
    # label is a pure function of doc_id, so it is RE-DERIVED on the
    # band rows map-side instead of joined back from the docs table —
    # the r12 form paid a full bands⋈sides shuffle join for a column
    # an md5 expression computes in place (guide §2.4).
    b2i = F.substring(
        F.md5(F.col("id").cast("string").cast("binary")), 1, 2
    )
    bl = (
        minhash_band_signatures_sets(sets_)
        .withColumn(
            "split", F.when(b2i < "cd", "train").otherwise("test")
        )
        .localCheckpoint()
    )
    te = bl.filter(F.col("split") == "test").select(
        F.col("id").alias("id_a"), "band", "sig"
    )
    tr = bl.filter(F.col("split") == "train").select(
        F.col("id").alias("id_b"), "band", "sig"
    )
    cand = te.join(tr, ["band", "sig"]).select("id_a", "id_b").distinct()
    # materialize_scores: output keeps jaccard (operator docstring).
    return jaccard_verify_sets(
        cand, sets_, 0.7, materialize_scores=True
    ).select(
        F.col("id_a").alias("test_doc"),
        F.col("id_b").alias("train_doc"),
        "jaccard",
    )


@register(
    "dataset_group_kfold_ctrl",
    oracle=f"""
WITH RECURSIVE {_CTRL_CORPUS_SQL},
mh AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || tok)) AS mh
  FROM toks CROSS JOIN (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY id, seed
),
bands AS (
  SELECT id, CAST(seed // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS sig
  FROM mh GROUP BY id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.id = c.id_a
  JOIN toks b ON b.id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a AS src, i.id_b AS dst
  FROM inter i
  JOIN sizes na ON na.id = i.id_a
  JOIN sizes nb ON nb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (na.n + nb.n - i.inter), 6)
        >= 0.8
),
sym AS (SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs),
walk(id, comp) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id
),
cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
folds AS (
  SELECT id, comp,
         CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(comp AS VARCHAR)), 1, 1)) - 1
              AS BIGINT) % 5 AS fold,
         CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(id AS VARCHAR)), 1, 1)) - 1
              AS BIGINT) % 5 AS naive_fold
  FROM cc
)
SELECT fold, count(*) AS n_docs,
       count(DISTINCT comp) AS n_groups,
       CAST(sum(CASE WHEN fold <> naive_fold THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM folds GROUP BY fold
""",
    tags=("dedup", "training-prep", "kfold", "iterative", "bench"),
)
def dataset_group_kfold_ctrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dataset_group_kfold on the controlled-dup-rate derived corpus
    (large vocabulary, ~5% injected clone pairs) — the honest scale
    measurement: components are {{base, clone}} stars whose count is
    LINEAR in the corpus, so the wall measures the operator, not the
    raw synthetic table's all-pairs-are-dups degeneracy (the raw
    form's candidate mass is ~10.6M at sf0.1 and 10x per decade —
    true-dup output, quarantined exactly like dedup_incremental's raw
    form).  n_moved here counts clones whose own-id fold differs from
    their component root's — the leak the group rule repairs even at
    a realistic dup rate."""
    from distributed_system_spark.operators.dedup import (
        connected_components,
    )

    corpus = _ctrl_corpus(load_table(spark, sf_dir, "documents"))
    # ONE tokenize pass over the generated corpus (r13).
    sets_ = doc_token_sets(corpus).localCheckpoint()
    cand = lsh_candidate_pairs(minhash_band_signatures_sets(sets_))
    pairs = jaccard_verify_sets(cand, sets_, 0.8)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(
        edges, corpus.select(F.col("doc_id").alias("id"))
    )

    def fold_of(c):
        return (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(c.cast("string").cast("binary")), 1, 1),
            )
            - 1
        ).cast("long") % 5

    folds = cc.select(
        "id",
        "comp",
        fold_of(F.col("comp")).alias("fold"),
        fold_of(F.col("id")).alias("naive_fold"),
    )
    return folds.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("comp").alias("n_groups"),
        F.sum(F.when(F.col("fold") != F.col("naive_fold"), 1).otherwise(0))
        .cast("long")
        .alias("n_moved"),
    )


from distributed_system_spark.queries import REGISTRY as _REG  # noqa: E402


@register(
    "dedup_incremental_capped_sliced",
    oracle=_REG["dedup_incremental_capped"].oracle,
    tags=("dedup", "lsh", "incremental", "capped", "disk-bounded"),
)
def dedup_incremental_capped_sliced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_incremental_capped`` under the BOUNDED-DISK execution
    plan (the ``dedup_substring_chains_sliced`` move, applied to the
    OTHER fifth-decade out-of-disk row), round-12 two-phase rebuild.
    Round 11's single loop sliced only the band-SIGNATURE space; its
    sf1000d attempt died at slice 4 because the VERIFY stage's output
    mass — candidate token arrays — is not divided by band-space
    slicing (SCALE.md round-11 diagnosis).  This form slices BOTH
    axes, K = ``_SLICES``:

    - **Stage 0** writes the two corpus-derived inputs to parquet
      ONCE, both built map-side with zero shuffle: the band
      signatures (``minhash_band_signatures_docs``) and the
      content-keyed token sets (``doc_token_sets`` →
      ``token_set_keyed`` — (id, ts, tsk, n); the groupBy form would
      re-shuffle the exploded token mass, a slice-INDEPENDENT scratch
      constant, the trap the substring twin hit with its corpus
      self-join).  Every slice then scans these join-free; parquet
      column pruning serves the narrow (id, tsk, n) reads without
      touching the arrays.
    - **Phase 1** partitions the band-sig space (first two sig hex
      digits mod K) and stages each slice's CANDIDATE PAIRS — two
      longs per row — releasing shuffle files between slices.  A
      (band, sig) bucket lives in exactly one slice, so the
      64-member occupancy valve counts the same occupancies and the
      union of slices is exactly the one-shot candidate set.
    - **Phase 2** partitions the VERIFY by candidate doc id
      (``pmod(id_b, K)`` — every pair verifies in exactly ONE slice,
      which also deletes the cross-band redundant verification the
      r11 form paid): each slice distincts its own 1/K of the pairs,
      fetches only the token arrays its pairs reference
      (``jaccard_verify_keyed(prune_arrays=True)``), and stages its
      verified duplicate ids.  Verify output mass per slice is ~1/K —
      the axis band-space slicing could not divide.

    Correctness is exact, not approximate: same oracle as
    ``dedup_incremental_capped``, shared verbatim.  The trade is K
    scans of the staged narrow inputs (CPU + one corpus-sized parquet
    staging write) for ÷K scratch disk at every shuffle; on a cluster
    the one-shot plan wins (aggregate disk scales with executors) —
    this is the form that finishes the fifth decade on one machine."""
    docs = load_table(spark, sf_dir, "documents")
    n_slices = _SLICES
    root = fresh_dir("cappedsl")
    # ONE corpus scan for stage 0 (r13): the keyed set table stages
    # first, then the band table derives from the STAGED ts arrays
    # (min over distinct tokens ≡ min over tokens, twin-tested) — the
    # corpus is read and tokenized once instead of twice, and the
    # band staging reads the narrow parquet it just wrote.
    token_set_keyed(doc_token_sets(docs)).write.mode(
        "overwrite"
    ).parquet(f"{root}/keyed")
    keyed = spark.read.schema(
        "id BIGINT, ts ARRAY<STRING>, tsk BINARY, n BIGINT"
    ).parquet(f"{root}/keyed")
    minhash_band_signatures_sets(keyed).write.mode(
        "overwrite"
    ).parquet(f"{root}/bands")
    spark.sparkContext._jvm.System.gc()
    bands = spark.read.schema("id BIGINT, band INT, sig STRING").parquet(
        f"{root}/bands"
    )
    bucket = F.conv(F.substring("sig", 1, 2), 16, 10).cast(
        "int"
    ) % n_slices
    for k in range(n_slices):
        cand_k = lsh_candidate_pairs(
            bands.filter(bucket == k), max_bucket=_BUCKET_CAP
        ).filter(F.col("id_b") >= 400)
        cand_k.write.mode("overwrite").parquet(
            f"{root}/cand/slice={k}"
        )
        # Release the finished slice's shuffle files before the next
        # slice shuffles its own — ContextCleaner's periodic GC
        # (default 30 min) is too slow for back-to-back slices.
        del cand_k
        spark.sparkContext._jvm.System.gc()
    cand = spark.read.schema("id_a BIGINT, id_b BIGINT").parquet(
        f"{root}/cand"
    )
    for m in range(n_slices):
        cand_m = cand.filter(F.pmod("id_b", F.lit(n_slices)) == m).distinct()
        dups_m = (
            jaccard_verify_keyed(cand_m, keyed, 0.8, prune_arrays=True)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        dups_m.write.mode("overwrite").parquet(f"{root}/dups/slice={m}")
        del cand_m, dups_m
        spark.sparkContext._jvm.System.gc()
    dup_new = (
        spark.read.schema("doc_id BIGINT")
        .parquet(f"{root}/dups")
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") >= 400)
        .join(dup_new, "doc_id", "left_anti")
        .select("doc_id", "n_chars")
    )

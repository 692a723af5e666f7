"""Text-analysis queries over `documents` (LLM-pipeline surface):
language ID, quality scoring, token counting, TF-IDF, n-grams,
document fingerprinting.

All deterministic Column-expression pipelines (no UDFs) with exact
SQL oracles; ratios are exact small-integer divisions rounded at 6,
which both engines compute identically in double.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from distributed_system_spark.queries import register
from distributed_system_spark.sources.tables import (
    WIDEN_SLOT_BYTES_DENSE,
    load_table,
    widen_if_narrow,
)

# Tiny fixed stopword lists per language — the classic n-gram/stopword
# heuristic shape (real lists would be longer; the operator is the same).
_LANG_WORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "un"),
}


@register(
    "text_langid",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents
), scored AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['en'])}, x))) AS score_en,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['de'])}, x))) AS score_de,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['es'])}, x))) AS score_es,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['fr'])}, x))) AS score_fr
  FROM t
)
SELECT doc_id, score_en, score_de, score_es, score_fr,
       CASE WHEN score_en >= score_de AND score_en >= score_es
                 AND score_en >= score_fr THEN 'en'
            WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
            WHEN score_es >= score_fr THEN 'es'
            ELSE 'fr' END AS pred_lang,
       CASE WHEN score_en >= score_de AND score_en >= score_es
                 AND score_en >= score_fr THEN 'en'
            WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
            WHEN score_es >= score_fr THEN 'es'
            ELSE 'fr' END = lang AS hit
FROM scored
""",
    tags=("text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-count language ID with a fixed priority tiebreak
    (en > de > es > fr) — the deterministic n-gram-heuristic shape."""
    docs = load_table(spark, sf_dir, "documents")
    # 1:1 explode barrier: tokenize once per row (four score columns
    # would otherwise each inline their own split of the text)
    t = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(F.split("text", " ", -1))).alias("toks"),
    )

    def score(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter("toks", lambda x: F.array_contains(arr, x))
        ).cast("long")

    scores = {
        lang: score(words).alias(f"score_{lang}")
        for lang, words in _LANG_WORDS.items()
    }
    scored = t.select("doc_id", "lang", *scores.values())
    e, d, s, fr = (F.col(f"score_{x}") for x in ("en", "de", "es", "fr"))
    pred = (
        F.when((e >= d) & (e >= s) & (e >= fr), "en")
        .when((d >= s) & (d >= fr), "de")
        .when(s >= fr, "es")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id",
        "score_en",
        "score_de",
        "score_es",
        "score_fr",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("hit"),
    )


@register(
    "text_quality",
    oracle="""
WITH t AS (
  SELECT doc_id, n_chars, str_split(text, ' ') AS toks,
         length(text) AS len_chars,
         length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, n_chars, len_chars, n_punct,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','is','in'], x))) AS n_stop
  FROM t
)
SELECT doc_id, n_tokens, n_unique,
       round(CAST(len_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 6)
         AS avg_word_len,
       round(CAST(n_unique AS DOUBLE) / n_tokens, 6) AS uniq_ratio,
       round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
       round(CAST(n_punct AS DOUBLE) / len_chars, 6) AS punct_ratio,
       (n_tokens BETWEEN 5 AND 1000)
         AND CAST(n_unique AS DOUBLE) / n_tokens > 0.1
         AND CAST(n_punct AS DOUBLE) / len_chars < 0.2 AS keep
FROM m
""",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / punctuation / stopword /
    uniqueness ratios) with a boolean keep decision — the standard
    pretraining-corpus filter shape."""
    docs = load_table(spark, sf_dir, "documents")
    stop = ("the", "a", "of", "and", "to", "is", "in")
    # 1:1 explode barrier: tokenize once per row for the three
    # token-derived metrics
    t = docs.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias(
            "n_punct"
        ),
        F.explode(F.array(F.split("text", " ", -1))).alias("toks"),
    )
    m = t.select(
        "doc_id",
        "len_chars",
        "n_punct",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique"),
        F.size(F.filter("toks", lambda x: x.isin(*stop))).alias("n_stop"),
    )
    awl = (F.col("len_chars") - F.col("n_tokens") + 1).cast("double") / F.col(
        "n_tokens"
    )
    uniq = F.col("n_unique").cast("double") / F.col("n_tokens")
    stopr = F.col("n_stop").cast("double") / F.col("n_tokens")
    punct = F.col("n_punct").cast("double") / F.col("len_chars")
    return m.select(
        "doc_id",
        "n_tokens",
        "n_unique",
        F.round(awl, 6).alias("avg_word_len"),
        F.round(uniq, 6).alias("uniq_ratio"),
        F.round(stopr, 6).alias("stop_ratio"),
        F.round(punct, 6).alias("punct_ratio"),
        (
            F.col("n_tokens").between(5, 1000)
            & (uniq > 0.1)
            & (punct < 0.2)
        ).alias("keep"),
    )


@register(
    "text_token_count",
    oracle="""
SELECT doc_id,
       len(str_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))
         AS bpe_ish_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_estimate
FROM documents
""",
    tags=("text", "tokenize"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (letter runs / single digits / punctuation), and the chars/4
    budget estimate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"), 0
            )
        ).cast("long").alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).alias("byte_estimate"),
    )


@register(
    "text_tfidf_top3",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tfidf, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
    tags=("text", "tfidf"),
)
def text_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with top-3 terms per document. The document-frequency
    side is a tiny aggregate (|vocab| rows) joined broadcast; the
    term-frequency side is one groupBy — two shuffles total."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@register(
    "text_bigrams",
    oracle="""
WITH t AS (
  SELECT str_split(text, ' ') AS toks FROM documents
), grams AS (
  SELECT unnest([array_to_string(toks[i:i+1], ' ')
                 for i in range(1, len(toks))]) AS bigram
  FROM t
)
SELECT bigram, count(*) AS cnt
FROM grams GROUP BY bigram
ORDER BY cnt DESC, bigram LIMIT 20
""",
    tags=("text", "ngram"),
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word bigrams (n-gram extraction as a transform
    over token positions — flatMap-shaped, no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    # 1:1 explode barrier: materialize the token array once per row —
    # inlining the split into every element_at re-tokenizes the text
    # per element (O(n^2) per document).
    t = docs.select(
        F.explode(F.array(F.split("text", " ", -1))).alias("toks")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
        ),
    )
    return (
        t.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


@register(
    "text_fingerprint",
    oracle="""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
), shingles AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                 for i in range(1, len(toks) - 1)])) AS sh
  FROM t
), hashed AS (
  SELECT doc_id, md5(sh) AS h FROM shingles
), selected AS (
  SELECT doc_id, h FROM hashed WHERE substr(h, 1, 1) = '0'
)
SELECT doc_id,
       count(*) AS n_sel,
       md5(string_agg(h, ',' ORDER BY h)) AS fingerprint
FROM selected GROUP BY doc_id
""",
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOD-p sampled shingle fingerprint (winnowing-style): hash word
    3-grams, keep the 1/16 whose md5 starts with '0', fingerprint =
    md5 of the sorted kept hashes. Docs sharing long spans share
    fingerprint hashes — join on them for plagiarism/containment.

    Per-row array math, so the plan has no data-dependent shuffle;
    widen_if_narrow only inserts a round-robin exchange on
    single-row-group inputs (a no-op on real layouts) so the md5-heavy
    map stage is not serialized onto one core — measured 4.2 s -> 0.64 s
    at sf0.1."""
    docs = widen_if_narrow(
        load_table(spark, sf_dir, "documents"),
        min_slot_bytes=WIDEN_SLOT_BYTES_DENSE,
    )
    toks = F.split("text", " ", -1)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
    )
    # doc_id is the row key, so the whole fingerprint is per-row array
    # math — no explode fan-out, no shuffle, embarrassingly parallel
    # at any scale (the explode+groupBy formulation shuffles every
    # shingle hash).
    kept = F.array_sort(
        F.filter(
            F.transform(shingles, lambda s: F.md5(s.cast("binary"))),
            lambda h: h.startswith("0"),
        )
    )
    # 1:1 explode barrier: downstream filter/size/concat reference the
    # generated attribute, so the md5-heavy `kept` evaluates once per
    # row — without it Catalyst substitutes the expression into all
    # three references (3x the hashing).
    once = docs.select(
        "doc_id", F.explode(F.array(kept)).alias("hs")
    )
    return once.filter(F.size("hs") > 0).select(
        "doc_id",
        F.size("hs").cast("long").alias("n_sel"),
        F.md5(F.concat_ws(",", "hs").cast("binary")).alias("fingerprint"),
    )


@register(
    "doc_quality_filter",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id, lang,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','is','in'], x))) AS n_stop
  FROM t
)
SELECT doc_id, lang, n_tokens,
       (n_tokens BETWEEN 20 AND 5000
        AND CAST(n_unique AS DOUBLE) / n_tokens >= 0.2
        AND (lang <> 'en' OR CAST(n_stop AS DOUBLE) / n_tokens >= 0.02))
         AS keep
FROM m
""",
    tags=("text", "pipeline", "filter"),
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop decision — the gate a training-data pipeline
    applies before dedup/tokenization: length band, lexical diversity
    floor, and (for English) a stopword-ratio floor. One scan, all
    Column expressions; at 100 TB this runs as a pushed-down projection
    + filter producing the keep bitmap that later stages join on."""
    docs = load_table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(w) for w in
                      ("the", "a", "of", "and", "to", "is", "in")])
    # 1:1 explode barrier: tokenize once per row (see text_quality)
    t = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(F.split("text", " ", -1))).alias("toks"),
    )
    m = t.select(
        "doc_id",
        "lang",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique"),
        F.size(F.filter("toks", lambda x: F.array_contains(stops, x)))
        .cast("long")
        .alias("n_stop"),
    )
    keep = (
        F.col("n_tokens").between(20, 5000)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") >= 0.2)
        & (
            (F.col("lang") != "en")
            | (F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.02)
        )
    )
    return m.select("doc_id", "lang", "n_tokens", keep.alias("keep"))


@register(
    "doc_chunking",
    oracle="""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n FROM t
), s AS (
  SELECT doc_id, toks, n,
         unnest(range(0,
           CAST(greatest(ceil((n - 50) / 40.0), 0) AS BIGINT) + 1)) AS cid
  FROM n
)
SELECT doc_id, cid AS chunk_id,
       len(list_slice(toks, 1 + 40 * cid,
                      least(40 * cid + 50, n))) AS n_tok,
       array_to_string(list_slice(toks, 1 + 40 * cid,
                                  least(40 * cid + 50, n)), ' ')
         AS chunk_text
FROM s
""",
    tags=("llm", "chunking"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (window 50, stride 40 —
    10-token overlap), the standard LLM-training prep step.  Pure
    per-row array math plus an explode whose fan-out is bounded by
    n_tokens/stride: no shuffle, no Python, linear at any corpus
    size (widen_if_narrow only repairs the single-row-group test
    layout; it stays a no-op at scale)."""
    docs = widen_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ", -1)
    n = F.size(toks)
    n_chunks = (
        F.greatest(F.ceil((n - 50) / F.lit(40.0)), F.lit(0)).cast("long") + 1
    )
    chunked = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "_p", "cid"
        ),
    )
    piece = F.slice("toks", (1 + 40 * F.col("cid")).cast("int"), 50)
    return chunked.select(
        "doc_id",
        F.col("cid").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tok"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


@register(
    "dataset_split",
    oracle="""
WITH h AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
  FROM documents
)
SELECT CASE WHEN b < 'cd' THEN 'train'
            WHEN b < 'e6' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM h GROUP BY 1
""",
    tags=("llm", "split"),
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by the first
    md5 byte of the document id — stable under re-runs, additions,
    and engine changes (md5 hex is bit-identical everywhere), which
    is what keeps a 100 TB corpus's split leak-free across pipeline
    versions.  Buckets: 0x00-0xcc train (205/256), 0xcd-0xe5 val
    (25/256), 0xe6-0xff test (26/256)."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    split = (
        F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


_CONTAMINATION_ORACLE = """
WITH assign AS (
  SELECT doc_id, text,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val' ELSE 'test' END AS split
  FROM documents
), grams AS (
  SELECT doc_id, split,
         unnest(list_distinct([md5(array_to_string(toks[i:i+7], ' '))
                for i in range(1, len(toks) - 6)])) AS h
  FROM (SELECT doc_id, split, str_split(text, ' ') AS toks FROM assign)
), common AS (
  SELECT h FROM grams WHERE split = 'train'
  GROUP BY h HAVING count(*) <= 100
)
SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc,
       count(*) AS n_shared
FROM (SELECT * FROM grams WHERE split = 'test') te
JOIN (SELECT * FROM grams WHERE split = 'train') tr ON te.h = tr.h
JOIN common ON te.h = common.h
GROUP BY te.doc_id, tr.doc_id
HAVING count(*) >= 3
"""


def _distinct_8grams() -> "F.Column":
    """Per-doc DISTINCT word-8-gram md5 array over a ``toks`` column,
    as 16-byte BINARY keys — these grams are the contamination
    family's corpus-scale shuffle payload (explode → groupBy →
    cross-split join), and halving the key vs the 32-char hex string
    halves every one of those shuffles plus the standing-index
    staging bytes (the substring family's round-11 lesson: the same
    switch cut its one-shot sf100d wall 363→241 s).  The key never
    reaches an output column, so the oracles — which keep comparing
    hex on the DuckDB side — are unchanged.

    Docs shorter than 8 tokens have no 8-grams: guard explicitly —
    sequence(1, size-7) would DESCEND for size<=7 (step -1 when
    start > stop) and slice(toks, 0, 8) throws."""
    return F.when(
        F.size("toks") >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 7),
                lambda i: F.unhex(
                    F.md5(
                        F.array_join(F.slice("toks", i, 8), " ").cast(
                            "binary"
                        )
                    )
                ),
            )
        ),
    ).otherwise(F.array().cast("array<binary>"))


@register(
    "contamination_check",
    oracle=_CONTAMINATION_ORACLE,
    tags=("llm", "contamination"),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: test docs sharing >=3 distinct word
    8-grams with a train doc (split assignment = `dataset_split`'s
    md5 buckets).  The join is equi on the md5 of each 8-gram;
    boilerplate n-grams appearing in >100 train docs are dropped
    first — the standard suppression that also caps join fan-out (the
    scale guard against a hot shingle going quadratic)."""
    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    split = F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
    grams = (
        docs.select(
            "doc_id", split.alias("split"),
            F.split("text", " ", -1).alias("toks"),
        )
        .filter(F.col("split") != "val")
        .select("doc_id", "split", F.explode(_distinct_8grams()).alias("h"))
    )
    train = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "h"
    )
    test = grams.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "h"
    )
    common = (
        train.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_train"))
        .filter(F.col("n_train") <= 100)
        .select("h")
    )
    return (
        test.join(common, "h")
        .join(train, "h")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


# Ascending train doc_id cuts for contamination_incr: len + 1 arrival
# batches.  The answer is boundary-independent by construction (counts
# merge, hits union); tests/test_llm_ops.py pins that at other cuts.
_CONTAM_CUTS = (250,)


@register(
    "contamination_incr",
    oracle=_CONTAMINATION_ORACLE,
    tags=("llm", "contamination", "incremental"),
)
def contamination_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDING EVAL-SET decontamination: ``contamination_check`` as
    never-reprocess-the-eval-set index maintenance, the incremental
    rung the contamination family was missing (text MinHash, image
    aHash, embeddings, and substring chains all have one; reference
    analog: per-append event callbacks, mock_sdfs_master.cpp:35-67).

    Day 0 shingles the FROZEN test split ONCE and persists its
    distinct-8-gram postings (h, test_doc) — the eval set's text is
    never re-read after this.  Each arriving train batch (day 1:
    doc_id < 250, day 2: the rest) shingles only its own docs, stages
    the grams once, and appends two pieces derived from that staging:
    a mergeable (h, n) train-frequency piece, and its probe HITS
    (test_doc, train_doc, h) against the persisted eval index.  The
    readout applies the >100-train-doc boilerplate suppression at
    MERGE time — counts are mergeable, so suppression over the summed
    pieces equals the one-shot rule — then counts shared grams per
    (test, train) pair.  The oracle is ``contamination_check``'s,
    shared VERBATIM: batch boundaries cannot change the answer
    because every train doc's grams land in exactly one batch and
    both the frequency sum and the hit union are order-insensitive.

    Scale: each batch pass is linear in the day's arrivals; the eval
    index is eval-set-sized (fixed, small — eval sets don't grow with
    the crawl); hits are output mass; the merge-on-read is one
    partial-agg groupBy.  The one-shot form re-shingles the whole
    train corpus every run — at 100 TB/day this form's cost is the
    day's data, full stop."""
    import functools

    from distributed_system_spark.concurrency import eager_all
    from distributed_system_spark.queries.dedup_q import _staging_root

    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    split = F.when(b < "cd", "train").when(b < "e6", "val").otherwise("test")
    base = docs.select(
        "doc_id", split.alias("split"), F.split("text", " ", -1).alias("toks")
    )
    root = _staging_root("dss-contam-incr", sf_dir, 1)
    base.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"),
        F.explode(_distinct_8grams()).alias("h"),
    ).write.mode("overwrite").parquet(f"{root}/eval_index")
    eval_index = spark.read.schema("test_doc BIGINT, h BINARY").parquet(
        f"{root}/eval_index"
    )
    train = base.filter(F.col("split") == "train")
    bounds = [None, *_CONTAM_CUTS, None]

    def _ingest_batch(i: int) -> None:
        day = str(i + 1)
        lo, hi = bounds[i], bounds[i + 1]
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col("doc_id") >= lo)
        if hi is not None:
            pred = pred & (F.col("doc_id") < hi)
        # One shingle pass per batch: grams staged, both derived
        # pieces (frequency + probe hits) read the staging.
        train.filter(pred).select(
            F.col("doc_id").alias("train_doc"),
            F.explode(_distinct_8grams()).alias("h"),
        ).write.mode("overwrite").parquet(f"{root}/grams/day={day}")
        g = spark.read.schema("train_doc BIGINT, h BINARY").parquet(
            f"{root}/grams/day={day}"
        )
        g.groupBy("h").agg(F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{root}/freq/day={day}")
        g.join(eval_index, "h").select(
            "test_doc", "train_doc", "h"
        ).write.mode("overwrite").parquet(f"{root}/hits/day={day}")

    # The batches are mutually independent by construction (each
    # shingles only its own docs and probes the FROZEN eval index,
    # never another batch's pieces), so they are submitted together
    # and Spark overlaps them (guide §2.6).
    eager_all(
        spark,
        *(
            functools.partial(_ingest_batch, i)
            for i in range(len(bounds) - 1)
        ),
    )
    hits = spark.read.schema(
        "test_doc BIGINT, train_doc BIGINT, h BINARY"
    ).parquet(f"{root}/hits")
    # Suppression merge restricted to the hashes that can matter:
    # only h's appearing in HITS reach the n_shared count, and the
    # per-h train totals are unchanged by dropping non-hit h's, so
    # semi-joining the freq pieces against a broadcast of the hits'
    # distinct hashes BEFORE the merge is exact — the standing
    # frequency index is scanned map-side and the merge shuffles
    # hit-mass, not index-mass (the marginal-cost readout, same move
    # as dedup_substring_chains_incr's batch-restricted probe).
    hit_h = hits.select("h").distinct()
    common = (
        spark.read.schema("h BINARY, n BIGINT")
        .parquet(f"{root}/freq")
        .join(F.broadcast(hit_h), "h", "leftsemi")
        .groupBy("h")
        .agg(F.sum("n").alias("n_train"))
        .filter(F.col("n_train") <= 100)
        .select("h")
    )
    return (
        hits.join(F.broadcast(common), "h")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


@register(
    "fuzzy_part_names",
    oracle="""
WITH p AS (
  SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS noun
  FROM part
)
SELECT a.noun,
       count(*) AS n_pairs,
       CAST(min(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_dist,
       CAST(max(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS max_dist
FROM p a JOIN p b
  ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
GROUP BY a.noun
""",
    tags=("C8", "fuzzy-match", "levenshtein"),
)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy match (the entity-resolution shape), done the
    scalable way: canonicalize to the DISTINCT name dictionary first
    (vocab-bounded, shrinks with dedup not with corpus size), then
    pair names only within an equi-join block (the name's noun) and
    filter by edit distance — never an all-pairs join over rows.
    Matching raw rows instead is quadratic in duplicate names: on
    this corpus (~48 distinct names) it was measured 30x slower at
    sf0.1 and would grow with SF^2."""
    p = (
        load_table(spark, sf_dir, "part")
        .select(
            "p_name",
            F.split_part("p_name", F.lit(" "), F.lit(2)).alias("noun"),
        )
        .distinct()
    )
    a = p.select(F.col("noun"), F.col("p_name").alias("name_a"))
    b = p.select(
        F.col("noun").alias("noun_b"), F.col("p_name").alias("name_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            b,
            (F.col("noun") == F.col("noun_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .filter(dist <= 4)
        .groupBy("noun")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(dist).cast("long").alias("min_dist"),
            F.max(dist).cast("long").alias("max_dist"),
        )
    )


@register(
    "weighted_sample",
    oracle="""
SELECT doc_id, n_chars
FROM documents
WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
           AS BIGINT) AS DOUBLE) / 4294967296.0
      < least(CAST(n_chars AS DOUBLE) / 4000.0, 1.0)
""",
    tags=("llm", "sampling"),
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (importance) sampling: keep a document
    with probability proportional to its length — the training-mix
    reweighting primitive.  The acceptance draw is a uniform derived
    from the doc id's md5 (first 8 hex digits / 2^32), so the sample
    is reproducible across runs, partitionings, and engines, and a
    corpus re-shard never changes which documents survive."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    p = F.least(F.col("n_chars").cast("double") / 4000.0, F.lit(1.0))
    return docs.filter(u < p).select("doc_id", "n_chars")


@register(
    "freq_heavy_hitters",
    oracle="""
WITH toks AS (
  SELECT unnest(str_split(text, ' ')) AS tok FROM documents
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT tok, count(*) AS cnt
FROM toks CROSS JOIN tot
GROUP BY tok, tot.n
HAVING count(*) * 100 >= tot.n
""",
    tags=("frequency", "sketch", "heavy-hitters"),
)
def freq_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens occurring in >= 1% of all token positions, with EXACT
    counts, found via a distributed Misra-Gries sketch pass + exact
    verification (operators/frequency.py).  The oracle is a plain
    GROUP BY + HAVING — what the comparison proves is the sketch's
    superset guarantee: pruning candidates before the shuffle must
    never lose a qualifying key.  At 100 TB this replaces a
    full-cardinality groupBy exchange with one scan + a broadcast
    semi-join over O(partitions x 100) candidates."""
    from distributed_system_spark.operators.frequency import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ", -1)).alias("tok")
    )
    return heavy_hitters(toks, "tok", support_pct=1).select(
        F.col("key").alias("tok"), "cnt"
    )


@register(
    "dataset_mix",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         strpos('0123456789abcdef', substr(md5(source), 1, 1)) AS wt,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM documents
)
SELECT source,
       CAST(round(max(wt) / 16.0, 6) AS DOUBLE) AS keep_rate,
       count(*) AS n_in,
       CAST(sum(CASE WHEN u < wt / 16.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM w GROUP BY source
""",
    tags=("llm", "sampling", "mixing"),
)
def dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture control: downsample each source to a target
    rate — here derived deterministically from the source name's md5
    (rate = digit/16, standing in for the config a real run supplies).
    Membership is a pure function of (doc_id, source) via the md5
    uniform, so the mixture is reproducible across engines, re-runs,
    and corpus growth — the property that keeps a 100 TB mixing job
    restartable and auditable.  One scan, one partial-agg groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    wt = F.expr("instr('0123456789abcdef', substring(md5(source), 1, 1))")
    u = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    return (
        docs.select("source", wt.alias("wt"), u.alias("u"))
        .groupBy("source")
        .agg(
            F.round(F.max("wt") / 16.0, 6)
            .cast("double")
            .alias("keep_rate"),
            F.count(F.lit(1)).alias("n_in"),
            F.sum(
                F.when(F.col("u") < F.col("wt") / 16.0, 1).otherwise(0)
            ).alias("n_kept"),
        )
    )


@register(
    "seq_packing",
    oracle="""
WITH d AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         len(str_split(text, ' ')) AS toks
  FROM documents
),
c AS (
  SELECT doc_id, shard, toks,
         SUM(toks) OVER (PARTITION BY shard ORDER BY h, doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT shard,
       CAST((cum - toks) // 512 AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS pack_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM c GROUP BY shard, CAST((cum - toks) // 512 AS BIGINT)
""",
    tags=("llm", "packing"),
)
def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: docs are concatenated into
    512-token context budgets by a deterministic sequential fill —
    per SHARD (first md5 hex digit of doc_id), not globally, because
    a global cumulative sum is a single-partition sort at 100 TB
    while per-shard packing is embarrassingly parallel (this is how
    real pipelines pack: per output shard).  Doc order within a shard
    is the md5 shuffle (training-order randomization that is
    reproducible everywhere); a doc belongs to the pack its first
    token lands in."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    d = docs.select(
        "doc_id",
        F.substring(h, 1, 1).alias("shard"),
        h.alias("h"),
        F.size(F.split("text", " ", -1)).alias("toks"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.withColumn("cum", F.sum("toks").over(w))
    return (
        c.select(
            "shard",
            F.expr("(cum - toks) div 512").alias("pack_id"),
            "doc_id",
            "toks",
        )
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("pack_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "doc_repetition_filter",
    oracle="""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] || ' '
           || t[CAST(i + 2 AS INT)] AS g
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
  ) s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       round(1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
         AS dup_fraction,
       CASE WHEN 1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*) > 0.2
            THEN 1 ELSE 0 END AS is_repetitive
FROM grams GROUP BY doc_id
""",
    tags=("text", "quality", "repetition"),
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate (the Gopher/C4 family of rules):
    the duplicate-3-gram fraction per document — boilerplate and
    looping generations repeat runs of tokens, so
    1 − distinct/total over word 3-grams flags them.  Docs shorter
    than 3 tokens contribute no grams and drop out (guarded — no
    descending sequence()).  Shuffle shape: explode + one partial-agg
    groupBy per doc; complements doc_quality_filter's length/punct/
    stopword signals."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    d = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 3)
    idx = F.explode(
        F.sequence(F.lit(1), F.size("t") - 2)
    ).alias("i")
    gram = F.concat_ws(
        " ",
        F.element_at("t", F.col("i")),
        F.element_at("t", F.col("i") + 1),
        F.element_at("t", F.col("i") + 2),
    )
    grams = d.select("doc_id", "t", idx).select(
        "doc_id", gram.alias("g")
    )
    dup = 1.0 - F.col("n_distinct").cast("double") / F.col("n_grams")
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("g").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.round(dup, 6).alias("dup_fraction"),
            F.when(dup > 0.2, 1).otherwise(0).alias("is_repetitive"),
        )
    )


@register(
    "intradoc_dedup_lines",
    oracle="""
WITH tk AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
),
ln AS (
  SELECT doc_id,
         [array_to_string(toks[10*j+1:10*j+10], ' ')
          for j in range(0, CAST((len(toks)+9)//10 AS BIGINT))] AS lines
  FROM tk
),
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN list_concat(lines, [lines[1]])
              ELSE lines END AS lines
  FROM ln
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(list_distinct(lines)) AS BIGINT) AS n_unique_lines,
       CAST(CAST(list_sum(list_transform(lines,
                l -> len(str_split(l, ' ')))) AS BIGINT)
            - CAST(list_sum(list_transform(list_distinct(lines),
                l -> len(str_split(l, ' ')))) AS BIGINT)
            AS BIGINT) AS toks_removed,
       len(lines) > len(list_distinct(lines)) AS has_intradoc_dup
FROM d
""",
    tags=("text", "dedup", "intradoc", "llm"),
)
def intradoc_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line removal — the intra-doc half of
    CCNet's line dedup, and the within-doc analog of
    ``dedup_paragraph_exact`` (which marks CROSS-doc segment dups)
    and ``text_remove_boilerplate`` (which drops corpus-FREQUENT
    spans): a page that repeats its own navigation block, lyrics
    chorus, or generated-text loop keeps only the FIRST instance of
    each line.  Lines are consecutive 10-token chunks of this
    newline-free corpus, with a planted repeat (docs with
    doc_id % 7 == 0 repeat their first line at the end — the same
    both-engines derived-corpus discipline as ``_ctrl_corpus``) so
    the removal is non-vacuous and exactly accountable.  Per doc:
    line counts and the exact token count removal frees —
    toks_removed = tokens(all instances) - tokens(distinct lines),
    exact because duplicate instances of a line always carry the
    same token count.

    Scale shape: a PURE MAP — every column is per-row array math
    inside codegen, zero shuffles, zero joins; at 100 TB this is the
    cheapest possible curation pass (one scan, embarrassingly
    parallel), which is exactly why CCNet runs it before anything
    that shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ", -1)
    nl = F.expr("(size(split(text, ' ', -1)) + 9) div 10")
    lines0 = F.transform(
        F.sequence(F.lit(0).cast("long"), nl - 1),
        lambda j: F.array_join(
            F.slice(toks, (j * 10 + 1).cast("int"), 10), " "
        ),
    )
    d = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(lines0, F.array(F.element_at(lines0, 1))),
        )
        .otherwise(lines0)
        .alias("lines"),
    )
    tok_sum = lambda col: F.aggregate(  # noqa: E731
        col,
        F.lit(0).cast("long"),
        lambda acc, l: acc + F.size(F.split(l, " ", -1)),
    )
    return d.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(F.array_distinct("lines"))
        .cast("long")
        .alias("n_unique_lines"),
        (tok_sum(F.col("lines")) - tok_sum(F.array_distinct("lines")))
        .cast("long")
        .alias("toks_removed"),
        (F.size("lines") > F.size(F.array_distinct("lines"))).alias(
            "has_intradoc_dup"
        ),
    )


# Derived boilerplate corpus: every doc gets a 10-token per-source
# header prepended (the same template every page of a site carries).
# Both engines build it with the same expression, so the removal op
# stays fully oracle-checked while actually having boilerplate to
# remove — the raw synthetic corpus has no verbatim cross-doc spans.
_BP_HDR_SQL = " || ' ' || ".join(
    f"'bp{i}_' || source" for i in range(1, 11)
)


@register(
    "text_remove_boilerplate",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_BP_HDR_SQL} || ' ' || text AS text FROM documents
),
tk AS (SELECT doc_id, str_split(text, ' ') AS toks FROM base),
ch AS (
  SELECT doc_id, p,
         array_to_string(toks[(p*10+1):(p*10+10)], ' ') AS chunk
  FROM tk CROSS JOIN (SELECT unnest(range(0, 32)) AS p) ps
  WHERE p * 10 < len(toks)
),
bp AS (
  SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS df
  FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5
)
SELECT ch.doc_id,
       coalesce(string_agg(CASE WHEN bp.h IS NULL THEN chunk END,
                           ' ' ORDER BY p), '') AS clean_text,
       count(CASE WHEN bp.h IS NULL THEN 1 END) AS n_kept,
       count(CASE WHEN bp.h IS NOT NULL THEN 1 END) AS n_dropped
FROM ch LEFT JOIN bp ON bp.h = md5(ch.chunk)
GROUP BY ch.doc_id
""",
    tags=("text", "dedup", "boilerplate"),
)
def text_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span (boilerplate) removal, the line-dedup shape of
    CCNet/RefinedWeb adapted to span granularity: split each doc into
    consecutive 10-token chunks, count each chunk's document
    frequency, drop chunks appearing verbatim in >= 5 docs (site
    templates, headers, licenses), and reassemble the survivors in
    order.  Runs on a derived corpus with a per-source 10-token header
    injected so there is real boilerplate to strip.

    At 100 TB: the doc-frequency groupBy keys on md5(chunk) (16-byte
    shuffle keys, partial agg map-side); the boilerplate table is by
    construction tiny (only spans repeated across >= 5 docs — the
    heavy hitters), so the keep/drop decision is a BROADCAST left
    join, and reassembly is one shuffle keyed by doc_id.  No step is
    ever quadratic in the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    hdr = F.concat_ws(
        " ", *[F.concat(F.lit(f"bp{i}_"), F.col("source")) for i in range(1, 11)]
    )
    base = docs.select(
        "doc_id", F.concat(hdr, F.lit(" "), F.col("text")).alias("text")
    )
    chunks = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(split(text, ' ', -1)) "
                "/ 10.0) as int) - 1), "
                "p -> array_join(slice(split(text, ' ', -1), p*10+1, 10), ' '))"
            )
        ).alias("p", "chunk"),
    )
    bp = (
        chunks.groupBy(F.md5(F.col("chunk").cast("binary")).alias("h"))
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 5)
    )
    flagged = chunks.join(
        F.broadcast(bp),
        F.md5(F.col("chunk").cast("binary")) == F.col("h"),
        "left",
    )
    kept = F.col("h").isNull()
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(kept, F.struct(F.col("p"), F.col("chunk")))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.count(F.when(~kept, 1)).alias("n_dropped"),
    )


@register(
    "vocab_oov_rate",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (SELECT tok, count(*) AS freq FROM toks GROUP BY tok)
  ORDER BY freq DESC, tok ASC LIMIT 20
)
SELECT t.doc_id, count(*) AS n_tokens,
       count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
       round(CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
GROUP BY t.doc_id
""",
    tags=("text", "vocab"),
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the corpus top-20 token vocabulary
    (frequency desc, token asc tie-break — deterministic), then score
    each document's out-of-vocabulary token rate against it.  The
    two-pass tokenizer-coverage check run before committing to a
    vocab/tokenizer for a pretraining corpus.

    At 100 TB: pass 1 aggregates token counts (partial agg map-side;
    the result is |vocab| rows, orders of magnitude smaller than the
    corpus) and takes the top-K with TakeOrdered — never a global sort
    of token instances; pass 2 BROADCASTS the K-row vocab to a
    map-side left join, so the only corpus-sized shuffle is the
    per-doc aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    # TakeOrderedAndProject: per-partition top-20 then a 20-row merge,
    # never a global sort of the vocab table
    vocab = (
        freq.orderBy(F.desc("freq"), F.asc("tok"))
        .limit(20)
        .select(F.col("tok").alias("vtok"))
    )
    oov = F.col("vtok").isNull()
    return (
        toks.join(F.broadcast(vocab), toks["tok"] == F.col("vtok"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(oov, 1)).alias("n_oov"),
            F.round(
                F.count(F.when(oov, 1)).cast("double") / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "doc_model_score",
    oracle="""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks, length(text) AS len_chars
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','is','in'], x))) AS n_stop,
         len_chars
  FROM t
), f AS (
  SELECT doc_id, n_tokens,
         CAST(round(CAST(n_unique AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS uniq_r,
         CAST(round(CAST(n_stop AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS stop_r,
         CAST(round(CAST(len_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS awl,
         CAST(round(CAST(least(n_tokens, 200) AS DOUBLE) / 200, 6)
              AS DECIMAL(18,6)) AS len_r
  FROM m
), s AS (
  SELECT doc_id, n_tokens,
         CAST(round(
             CAST(0.25 AS DECIMAL(6,3))
           + CAST(0.40 AS DECIMAL(6,3)) * uniq_r
           + CAST(-0.30 AS DECIMAL(6,3)) * stop_r
           + CAST(0.02 AS DECIMAL(6,3)) * awl
           + CAST(0.15 AS DECIMAL(6,3)) * len_r, 6) AS DOUBLE) AS score
  FROM f
)
SELECT doc_id, n_tokens, score,
       CASE WHEN score >= 0.55 THEN 'high'
            WHEN score >= 0.45 THEN 'mid'
            ELSE 'low' END AS tier
FROM s
""",
    tags=("text", "quality", "model"),
)
def doc_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a linear scorer (fixed weights
    standing in for a trained fastText/logistic quality classifier)
    over per-doc features — unique-token ratio, stopword ratio,
    average word length, capped length — with a high/mid/low tier
    decision.  The shape of learned-filter inference in a pretraining
    pipeline: featurize per row, dot with a broadcast weight vector,
    threshold.

    Engine-portable on purpose: features are rounded to 6 decimals,
    then the dot product runs entirely in DECIMAL (exact, associative)
    before one final rounding — no float-summation-order dependence.
    At 100 TB this is a pure per-row map over one scan: no shuffle, no
    UDF, whole-stage codegen end to end; a real learned model would
    swap in a broadcast weight vector (or an Arrow-batched Pandas UDF
    for a non-linear one) with the identical plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        F.split("text", " ", -1).alias("toks"),
    )
    stop = ("the", "a", "of", "and", "to", "is", "in")
    m = t.select(
        "doc_id",
        "len_chars",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique"),
        F.size(F.filter("toks", lambda x: x.isin(*stop))).alias("n_stop"),
    )

    def dec6(c):  # noqa: ANN001, ANN202
        return F.round(c, 6).cast("decimal(18,6)")

    f = m.select(
        "doc_id",
        "n_tokens",
        dec6(F.col("n_unique").cast("double") / F.col("n_tokens")).alias(
            "uniq_r"
        ),
        dec6(F.col("n_stop").cast("double") / F.col("n_tokens")).alias(
            "stop_r"
        ),
        dec6(
            (F.col("len_chars") - F.col("n_tokens") + 1).cast("double")
            / F.col("n_tokens")
        ).alias("awl"),
        dec6(
            F.least(F.col("n_tokens"), F.lit(200)).cast("double") / F.lit(200)
        ).alias("len_r"),
    )
    w = lambda x: F.expr(f"CAST({x} AS DECIMAL(6,3))")  # noqa: E731
    score = F.round(
        w("0.25")
        + w("0.40") * F.col("uniq_r")
        + w("-0.30") * F.col("stop_r")
        + w("0.02") * F.col("awl")
        + w("0.15") * F.col("len_r"),
        6,
    ).cast("double")
    s = f.select("doc_id", "n_tokens", score.alias("score"))
    return s.select(
        "doc_id",
        "n_tokens",
        "score",
        F.when(F.col("score") >= 0.55, "high")
        .when(F.col("score") >= 0.45, "mid")
        .otherwise("low")
        .alias("tier"),
    )


@register(
    "redact_pii",
    oracle="""
WITH notes AS (
  SELECT c_custkey,
         'contact ' || lower(replace(c_name, '#', '.')) || '@example.com'
         || ' or 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
         || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
         || ' re ' || c_mktsegment AS note
  FROM customer
)
SELECT c_custkey,
       regexp_replace(
         regexp_replace(note, '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
         '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted,
       CAST(len(regexp_extract_all(note, '[a-z0-9.]+@[a-z0-9.]+'))
          + len(regexp_extract_all(note, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
          AS INT) AS n_redactions
FROM notes
""",
    tags=("text", "pii"),
)
def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: mask email addresses and phone numbers in free
    text with typed placeholders, reporting the per-row redaction
    count — the compliance-scrubbing pass a training corpus goes
    through before tokenization.  The synthetic tables carry no real
    contact fields, so both engines first derive a deterministic
    contact note per customer (email from the name, phone digits from
    the key), then redact it — the derivation is part of the oracle so
    the masking itself is fully hash-checked.

    At 100 TB: pure per-row regexp_replace over one scan — no
    shuffle, no UDF, whole-stage codegen; the pattern set extends to
    SSNs/IBANs/addresses without changing the plan shape.  Patterns
    are written in the common Java-regex/RE2 subset so both engines
    match identical spans.
    """
    cust = load_table(spark, sf_dir, "customer")
    email_re = "[a-z0-9.]+@[a-z0-9.]+"
    phone_re = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    note = F.concat(
        F.lit("contact "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" re "),
        F.col("c_mktsegment"),
    )
    notes = cust.select("c_custkey", note.alias("note"))
    return notes.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace("note", email_re, "[EMAIL]"),
            phone_re,
            "[PHONE]",
        ).alias("redacted"),
        (
            F.size(F.regexp_extract_all("note", F.lit(email_re), 0))
            + F.size(F.regexp_extract_all("note", F.lit(phone_re), 0))
        ).alias("n_redactions"),
    )


@register(
    "text_readability",
    oracle="""
WITH m AS (
  SELECT doc_id,
         len(str_split(text, ' ')) AS n_words,
         len(regexp_extract_all(text, '[aeiou]+')) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_syllables,
       CAST(round(CAST(206.835
             - 1.015 * (CAST(n_words AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE)
                       / CAST(n_words AS DOUBLE))
             AS DECIMAL(18,6)), 4) AS DOUBLE) AS flesch
FROM m
""",
    tags=("text", "quality", "readability"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease heuristic per document, with vowel-group
    runs as the classic syllable proxy and the whole doc as one
    sentence (this corpus carries no sentence punctuation).  Another
    shuffle-free per-row quality signal for the curation gate family:
    at 100 TB it pipelines inside the same scan as text_quality /
    text_entropy (one pass, no Python).  Rounded while DECIMAL per
    the _util convention."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ", -1))
    n_syll = F.size(F.regexp_extract_all("text", F.lit("[aeiou]+"), 0))
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("n_words").cast("double")
        - F.lit(84.6)
        * (
            F.col("n_syllables").cast("double")
            / F.col("n_words").cast("double")
        )
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_syllables").cast("long").alias("n_syllables"),
        F.round(flesch.cast("decimal(18,6)"), 4)
        .cast("double")
        .alias("flesch"),
    )


@register(
    "corpus_zipf_slope",
    oracle="""
WITH tf AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE))
           AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM tf
),
s AS (
  SELECT count(*) AS n,
         SUM(CAST(round(CAST(x AS DECIMAL(18,12)), 12)
                  AS DECIMAL(28,12))) AS sx,
         SUM(CAST(round(CAST(y AS DECIMAL(18,12)), 12)
                  AS DECIMAL(28,12))) AS sy,
         SUM(CAST(round(CAST(x * y AS DECIMAL(18,12)), 12)
                  AS DECIMAL(28,12))) AS sxy,
         SUM(CAST(round(CAST(x * x AS DECIMAL(18,12)), 12)
                  AS DECIMAL(28,12))) AS sxx
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(round(CAST(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         AS DECIMAL(18,6)), 4) AS DOUBLE) AS zipf_slope
FROM s
""",
    tags=("text", "corpus-stats", "regression"),
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: OLS slope of ln(freq) on
    ln(rank) over the term-frequency table (natural language ≈ -1;
    synthetic/templated corpora deviate — a drifting slope between
    crawl snapshots is a cheap corpus-health monitor).

    Scale shape: one token groupBy builds the frequency table (size
    = |vocab|, bounded by language not corpus); the rank window and
    the regression sums run over vocab rows only; the driver never
    holds anything but the final scalar row.  Per-term log products
    are rounded to 12 then summed in DECIMAL (order-insensitive), so
    both engines reduce identical values — the same trick as
    linreg_by_group.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), "tok")
    ranked = tf.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )

    def d12(c):
        return F.sum(
            F.round(c.cast("decimal(18,12)"), 12).cast("decimal(28,12)")
        )

    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        d12(F.col("x")).alias("sx"),
        d12(F.col("y")).alias("sy"),
        d12(F.col("x") * F.col("y")).alias("sxy"),
        d12(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (
        n * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        n * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope.cast("decimal(18,6)"), 4)
        .cast("double")
        .alias("zipf_slope"),
    )


@register(
    "dataset_kfold",
    oracle="""
WITH f AS (
  SELECT doc_id,
         CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
              AS BIGINT) % 5 AS fold
  FROM documents
)
SELECT fold, count(*) AS n_docs,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM f GROUP BY fold
""",
    tags=("text", "training-prep", "kfold"),
)
def dataset_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    first md5 hex digit of doc_id mod 5 — reproducible on any
    engine, no stored fold table, shuffle-free per-row assignment
    (the same md5-bucket discipline as dataset_split/dataset_mix).
    Emits per-fold counts as the balance report; a training run
    filters `fold != k` inline."""
    docs = load_table(spark, sf_dir, "documents")
    hexd = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    fold = (
        (F.instr(F.lit("0123456789abcdef"), hexd) - 1).cast("long") % 5
    )
    return (
        docs.select("doc_id", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@register(
    "langid_confusion_matrix",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents
), scored AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['en'])}, x))) AS score_en,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['de'])}, x))) AS score_de,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['es'])}, x))) AS score_es,
         len(list_filter(toks, x -> list_contains({list(_LANG_WORDS['fr'])}, x))) AS score_fr
  FROM t
), pred AS (
  SELECT lang AS true_lang,
         CASE WHEN score_en >= score_de AND score_en >= score_es
                   AND score_en >= score_fr THEN 'en'
              WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
              WHEN score_es >= score_fr THEN 'es'
              ELSE 'fr' END AS pred_lang
  FROM scored
),
cm AS (
  SELECT true_lang, pred_lang, count(*) AS n
  FROM pred GROUP BY true_lang, pred_lang
),
tot AS (SELECT true_lang, sum(n) AS row_n FROM cm GROUP BY true_lang)
SELECT cm.true_lang, cm.pred_lang, cm.n,
       CAST(round(CAST(CAST(cm.n AS DOUBLE) / tot.row_n
                       AS DECIMAL(18,9)), 6) AS DOUBLE) AS row_rate
FROM cm JOIN tot USING (true_lang)
""",
    tags=("text", "langid", "evaluation"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation matrix for the langid heuristic: counts
    and row-normalized rates per (true lang, predicted lang) — the
    eval face of text_langid (which emits per-doc predictions).  The
    model-quality report every curation pipeline publishes before
    trusting a gate at 100 TB: one scan + one groupBy over a
    |langs|²-bounded key space, row totals joined back from a tiny
    re-aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(F.split("text", " ", -1))).alias("toks"),
    )

    def score(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter("toks", lambda x: F.array_contains(arr, x))
        ).cast("long")

    scored = t.select(
        "lang",
        *[
            score(w).alias(f"score_{lang}")
            for lang, w in _LANG_WORDS.items()
        ],
    )
    e, d, s, fr = (F.col(f"score_{x}") for x in ("en", "de", "es", "fr"))
    pred = (
        F.when((e >= d) & (e >= s) & (e >= fr), "en")
        .when((d >= s) & (d >= fr), "de")
        .when(s >= fr, "es")
        .otherwise("fr")
    )
    cm = (
        scored.select(
            F.col("lang").alias("true_lang"), pred.alias("pred_lang")
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cm.groupBy("true_lang").agg(F.sum("n").alias("row_n"))
    return cm.join(F.broadcast(tot), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(
            (F.col("n").cast("double") / F.col("row_n")).cast(
                "decimal(18,9)"
            ),
            6,
        )
        .cast("double")
        .alias("row_rate"),
    )


def _lang_bucket_rank(
    df: DataFrame, cum_col: str = None, key: str = "lang"
) -> DataFrame:
    """Skew-safe per-language rank: the global
    ``row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id),
    doc_id)`` recovered WITHOUT one-task-per-language.

    A naive ``Window.partitionBy("lang")`` funnels each language
    through a single shuffle partition — one task holds half the
    corpus when one language is half the data, the single biggest
    skew hazard at 100 TB.  Instead: rank within ``(lang, bucket)``
    where bucket is the FIRST TWO HEX CHARS of the very md5 the rank
    orders by, then add broadcast per-bucket prefix-sum offsets.
    Because the bucket is a prefix of the ordering key, (bucket asc,
    md5 asc) is exactly md5 asc — local rank + offset IS the global
    rank, bit-for-bit, so every existing DuckDB oracle stays green
    unchanged while the max window partition drops to ~1/256 of a
    language.  (Reference analog: the range partitioner splits
    contiguous key runs across workers, partitioner.cpp:57-98 —
    never one-run-per-key.)

    Input must carry ``doc_id`` and the stratum column ``key``
    (default ``lang``; ``domain_quota_curation`` passes ``source``
    and a constant column for its global pass); output adds ``rn``
    (global per-stratum rank) and ``n`` (stratum size).  With
    ``cum_col`` set, also adds ``cum`` — the global per-language
    INCLUSIVE running sum of that column in the same order (the
    seq-packing accumulator), via the same local-plus-bucket-offset
    identity.  The offset table is a partial-aggregated groupBy
    (map-side combine, so the second pass over the input shuffles
    only |langs| x 256 rows, never a second full-data sort), then
    two windows over those tiny rows and a broadcast join back."""
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    b = df.withColumn("_h", h).withColumn(
        "_bkt", F.substring("_h", 1, 2)
    )
    wb = Window.partitionBy(key, "_bkt").orderBy("_h", "doc_id")
    local = b.withColumn("_rl", F.row_number().over(wb))
    aggs = [F.count(F.lit(1)).alias("_cb")]
    if cum_col is not None:
        local = local.withColumn(
            "_cuml",
            F.sum(cum_col).over(
                wb.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        aggs.append(F.sum(cum_col).alias("_tb"))
    per_bucket = b.groupBy(key, "_bkt").agg(*aggs)
    wo = (
        Window.partitionBy(key)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_cols = [
        key,
        "_bkt",
        F.coalesce(F.sum("_cb").over(wo), F.lit(0)).alias("_off"),
        F.sum("_cb").over(Window.partitionBy(key)).alias("n"),
    ]
    if cum_col is not None:
        off_cols.append(
            F.coalesce(F.sum("_tb").over(wo), F.lit(0)).alias("_toff")
        )
    offs = per_bucket.select(*off_cols)
    out = local.join(F.broadcast(offs), [key, "_bkt"]).withColumn(
        "rn", F.col("_rl") + F.col("_off")
    )
    drop = ["_h", "_bkt", "_rl", "_off"]
    if cum_col is not None:
        out = out.withColumn("cum", F.col("_cuml") + F.col("_toff"))
        drop += ["_cuml", "_toff"]
    return out.drop(*drop)


@register(
    "dataset_split_stratified",
    oracle="""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN rn * 10 <= n * 8 THEN 'train'
            WHEN rn * 10 <= n * 9 THEN 'val'
            ELSE 'test' END AS split
FROM r
""",
    tags=("llm", "split", "stratified"),
)
def dataset_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED 80/10/10 train/val/test split: exact per-language
    proportions (each stratum splits ⌊.8n⌋/⌊.9n⌋, all-integer
    arithmetic so no float-boundary drift), with the within-stratum
    order given by md5(doc_id) so membership is pseudorandom yet
    deterministic.  The global md5-bucket split (dataset_split) keeps
    proportions only in expectation — a tail language can land 100%
    in train; this variant guarantees every language appears in val
    and test, which is what makes a multilingual eval set valid.

    Trade-off vs dataset_split, stated honestly: adding documents
    RESHUFFLES assignments within a stratum (rank shifts), so this
    split is for frozen corpus versions, while the md5-bucket split
    is stable under growth — a pipeline wants both.

    At 100 TB: SKEW-SAFE — the rank runs within (lang, md5-prefix
    bucket) partitions via ``_lang_bucket_rank``, so a language that
    is half the corpus spreads over 256 tasks instead of one; the
    broadcast prefix-sum offsets recover the identical global rank,
    which is why the oracle is the plain per-language window."""
    docs = load_table(spark, sf_dir, "documents")
    r = _lang_bucket_rank(docs.select("doc_id", "lang"))
    split = (
        F.when(F.col("rn") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rn") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
    )
    return r.select("doc_id", "lang", split.alias("split"))


@register(
    "cooccurrence_pmi",
    oracle="""
WITH d AS (
  SELECT doc_id, list_distinct(str_split(text, ' ')) AS toks
  FROM documents
),
e AS (SELECT doc_id, unnest(toks) AS tok FROM d),
df AS (SELECT tok, count(*) AS df FROM e GROUP BY tok),
v AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 40),
ev AS (SELECT e.doc_id, e.tok, v.df FROM e JOIN v USING (tok)),
p AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_xy,
         max(a.df) AS n_a, max(b.df) AS n_b
  FROM ev a JOIN ev b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING count(*) >= 5
),
tot AS (SELECT count(*) AS d FROM documents)
SELECT tok_a, tok_b,
       CAST(n_xy AS BIGINT) AS n_xy,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(round(CAST(ln((CAST(n_xy AS DOUBLE) * CAST(d AS DOUBLE))
                          / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS pmi
FROM p CROSS JOIN tot
""",
    tags=("llm", "text", "pmi"),
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of within-document term
    co-occurrence over the top-40 document-frequency vocabulary —
    PMI(x,y) = ln(P(x,y) / (P(x)P(y))) = ln(n_xy * D / (n_x * n_y))
    with document-level counts.  The collocation/association measure
    behind phrase mining and word-association features; positive PMI
    means the pair co-occurs more than independence predicts.

    At 100 TB: the vocabulary is TakeOrdered top-40 (driver holds 40
    rows, broadcast back), per-doc distinct tokens are filtered to it
    BEFORE the pair join, and the within-doc self-join is bounded by
    min(doc length, |V|) tokens per doc_id — the basket_lift_pairs
    shape: candidate pairs per doc <= C(40,2), never corpus-quadratic.
    ln computed on identical doubles in both engines and rounded
    while DECIMAL per the corpus_zipf_slope convention."""
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " ", -1))).alias("tok"),
    )
    dfreq = e.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    v = dfreq.orderBy(F.col("df").desc(), "tok").limit(40)
    ev = e.join(F.broadcast(v), "tok")
    a = ev.select(
        "doc_id", F.col("tok").alias("tok_a"), F.col("df").alias("df_a")
    )
    b = ev.select(
        "doc_id", F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count(F.lit(1)).alias("n_xy"),
            F.max("df_a").alias("n_a"),
            F.max("df_b").alias("n_b"),
        )
        .filter(F.col("n_xy") >= 5)
    )
    tot = docs.agg(F.count(F.lit(1)).alias("d"))
    pmi = F.log(
        (F.col("n_xy").cast("double") * F.col("d").cast("double"))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        "tok_a",
        "tok_b",
        F.col("n_xy").cast("long").alias("n_xy"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(pmi.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("pmi"),
    )


@register(
    "dataset_alpha_mix",
    oracle="""
WITH c AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n,
         round(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(18,12)), 12)
           AS wr
  FROM c
),
tot AS (
  SELECT SUM(CAST(wr AS DECIMAL(28,12))) AS sw,
         CAST(SUM(n) AS BIGINT) AS big_n
  FROM w
),
r AS (
  SELECT lang, n,
         CAST(wr AS DOUBLE) / CAST(sw AS DOUBLE) AS share,
         least(1.0,
               (CAST(wr AS DOUBLE) / CAST(sw AS DOUBLE))
                 * (CAST(big_n AS DOUBLE) * 0.5)
                 / CAST(n AS DOUBLE)) AS rate
  FROM w CROSS JOIN tot
),
u AS (
  SELECT d.lang,
         CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM documents d
)
SELECT r.lang,
       CAST(r.n AS BIGINT) AS n_docs,
       CAST(round(CAST(r.share AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS target_share,
       CAST(round(CAST(r.rate AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS sample_rate,
       CAST(sum(CASE WHEN u.u < r.rate THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled
FROM u JOIN r ON u.lang = r.lang
GROUP BY r.lang, r.n, r.share, r.rate
""",
    tags=("llm", "sampling", "multilingual"),
)
def dataset_alpha_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling (the alpha-sampling
    scheme from multilingual LM training, alpha = 0.5): target
    language shares proportional to n_lang^alpha, flattening the
    head so tail languages are not drowned — then per-language
    deterministic md5-uniform acceptance at rate = min(1,
    target_count / n_lang) against a half-corpus token budget.
    dataset_mix controls per-source rates from a config; this one
    DERIVES the rates from the distribution itself, which is how
    multilingual corpora are actually balanced.

    alpha = 0.5 makes the power a sqrt — IEEE-correctly-rounded and
    therefore bit-identical in both engines; the sqrt weights are
    rounded while DECIMAL and summed exactly (zipf convention), so
    shares, rates, and the md5-uniform accept decisions all match
    the oracle exactly.

    At 100 TB: the per-language table is |langs| rows (one broadcast
    back to the corpus scan), acceptance is a pure doc_id hash — the
    whole mixture costs one scan + one |langs|-row aggregate, and
    stays reproducible under re-runs and engine changes."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = c.select(
        "lang",
        "n",
        F.round(
            F.sqrt(F.col("n").cast("double")).cast("decimal(18,12)"), 12
        ).alias("wr"),
    )
    tot = w.agg(
        F.sum(F.col("wr").cast("decimal(28,12)")).alias("sw"),
        F.sum("n").cast("long").alias("big_n"),
    )
    share = F.col("wr").cast("double") / F.col("sw").cast("double")
    rate = F.least(
        F.lit(1.0),
        share
        * (F.col("big_n").cast("double") * F.lit(0.5))
        / F.col("n").cast("double"),
    )
    r = w.crossJoin(F.broadcast(tot)).select(
        "lang", "n", share.alias("share"), rate.alias("rate")
    )
    u = docs.select(
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(F.col("doc_id").cast("string").cast("binary")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            / 4294967296.0
        ).alias("u"),
    )
    return (
        u.join(F.broadcast(r), "lang")
        .groupBy("lang", "n", "share", "rate")
        .agg(
            F.sum(
                F.when(F.col("u") < F.col("rate"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_sampled")
        )
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.round(F.col("share").cast("decimal(18,12)"), 6)
            .cast("double")
            .alias("target_share"),
            F.round(F.col("rate").cast("decimal(18,12)"), 6)
            .cast("double")
            .alias("sample_rate"),
            "n_sampled",
        )
    )


# Shared score/label pipeline (doc_model_score vs the
# doc_quality_filter gate) used by the classifier-eval oracles:
# integer micro-unit scores s_int plus boolean label per doc.
_SCORED_SQL = """t AS (
  SELECT doc_id, lang, str_split(text, ' ') AS toks,
         length(text) AS len_chars
  FROM documents
), m AS (
  SELECT doc_id, lang, len_chars,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','is','in'], x))) AS n_stop
  FROM t
), f AS (
  SELECT doc_id,
         (n_tokens BETWEEN 20 AND 5000
          AND CAST(n_unique AS DOUBLE) / n_tokens >= 0.2
          AND (lang <> 'en'
               OR CAST(n_stop AS DOUBLE) / n_tokens >= 0.02)) AS label,
         CAST(round(CAST(n_unique AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS uniq_r,
         CAST(round(CAST(n_stop AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS stop_r,
         CAST(round(CAST(len_chars - n_tokens + 1 AS DOUBLE) / n_tokens,
                    6) AS DECIMAL(18,6)) AS awl,
         CAST(round(CAST(least(n_tokens, 200) AS DOUBLE) / 200, 6)
              AS DECIMAL(18,6)) AS len_r
  FROM m
), s AS (
  SELECT doc_id, label,
         CAST(round(CAST(round(
             CAST(0.25 AS DECIMAL(6,3))
           + CAST(0.40 AS DECIMAL(6,3)) * uniq_r
           + CAST(-0.30 AS DECIMAL(6,3)) * stop_r
           + CAST(0.02 AS DECIMAL(6,3)) * awl
           + CAST(0.15 AS DECIMAL(6,3)) * len_r, 6) AS DOUBLE)
           * 1000000) AS BIGINT) AS s_int
  FROM f
)"""


@register(
    "score_pr_curve",
    oracle=f"""
WITH {_SCORED_SQL}, bucketed AS (
  SELECT CASE WHEN s_int < 400000 THEN -1
              ELSE least(15, (s_int - 400000) // 20000) END AS idx,
         count(CASE WHEN label THEN 1 END) AS n_pos,
         count(CASE WHEN NOT label THEN 1 END) AS n_neg
  FROM s GROUP BY 1
), grid AS (SELECT unnest(range(0, 16)) AS k),
cum AS (
  SELECT g.k,
         CAST(coalesce(SUM(CASE WHEN b.idx >= g.k THEN b.n_pos END), 0)
              AS BIGINT) AS tp,
         CAST(coalesce(SUM(CASE WHEN b.idx >= g.k THEN b.n_neg END), 0)
              AS BIGINT) AS fp,
         CAST((SELECT SUM(n_pos) FROM bucketed) AS BIGINT) AS all_pos
  FROM grid g CROSS JOIN bucketed b
  GROUP BY g.k
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(round(CAST(40 + 2 * k AS DOUBLE) / 100.0, 2) AS DOUBLE)
         AS threshold,
       tp, fp, all_pos - tp AS fn,
       CAST(round(CAST(CASE WHEN tp + fp = 0 THEN 0.0
            ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS precision_,
       CAST(round(CAST(CAST(tp AS DOUBLE) / CAST(all_pos AS DOUBLE)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS recall_,
       CAST(round(CAST(CAST(2 * tp AS DOUBLE)
            / CAST(2 * tp + fp + (all_pos - tp) AS DOUBLE)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS f1
FROM cum
""",
    tags=("llm", "evaluation", "classifier"),
)
def score_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 threshold sweep for the linear quality
    scorer (doc_model_score) against the heuristic gate verdict
    (doc_quality_filter) as reference labels — the calibration table
    an operator reads to pick the score cutoff BEFORE gating a
    100 TB corpus with it.  16 thresholds, 0.40 to 0.70 step 0.02.

    Scale shape: per-doc scores quantize to INTEGER micro-units and
    bucket onto the threshold grid in one aggregate (17 buckets),
    then every threshold's TP/FP/FN falls out of grid-bounded
    cumulative sums — the corpus is scanned ONCE, never once per
    threshold, and every confusion count and ratio is integer-exact
    (no float boundary anywhere: the grid compare is s_int >=
    400000 + 20000k).

    Companions: minhash_calibration (dedup budget), ann_recall_report
    (index quality), langid_confusion_matrix (classifier eval) — the
    measure-before-trust family."""
    scores = doc_model_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("score") * 1000000).cast("long").alias("s_int"),
    )
    labels = doc_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("label")
    )
    s = scores.join(labels, "doc_id")
    idx = F.when(F.col("s_int") < 400000, F.lit(-1)).otherwise(
        F.least(
            F.lit(15),
            ((F.col("s_int") - 400000) / F.lit(20000)).cast("long"),
        )
    )
    bucketed = s.groupBy(idx.alias("idx")).agg(
        F.count(F.when(F.col("label"), 1)).alias("n_pos"),
        F.count(F.when(~F.col("label"), 1)).alias("n_neg"),
    )
    grid = spark.range(16).select(F.col("id").alias("k"))
    cum = (
        grid.join(F.broadcast(bucketed))
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("idx") >= F.col("k"), F.col("n_pos"))),
                F.lit(0),
            )
            .cast("long")
            .alias("tp"),
            F.coalesce(
                F.sum(F.when(F.col("idx") >= F.col("k"), F.col("n_neg"))),
                F.lit(0),
            )
            .cast("long")
            .alias("fp"),
            F.sum("n_pos").cast("long").alias("all_pos"),
        )
    )
    fn = F.col("all_pos") - F.col("tp")
    prec = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")
    )
    rec = F.col("tp").cast("double") / F.col("all_pos").cast("double")
    f1 = (F.lit(2) * F.col("tp")).cast("double") / (
        F.lit(2) * F.col("tp") + F.col("fp") + fn
    ).cast("double")
    return cum.select(
        F.col("k").cast("long").alias("k"),
        F.round((F.lit(40) + F.lit(2) * F.col("k")).cast("double") / 100.0, 2)
        .cast("double")
        .alias("threshold"),
        "tp",
        "fp",
        fn.alias("fn"),
        F.round(prec.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("precision_"),
        F.round(rec.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("recall_"),
        F.round(f1.cast("decimal(18,12)"), 6).cast("double").alias("f1"),
    )


@register(
    "score_reliability_diagram",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, str_split(text, ' ') AS toks,
         length(text) AS len_chars
  FROM documents
), m AS (
  SELECT doc_id, lang, len_chars,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','is','in'], x))) AS n_stop
  FROM t
), f AS (
  SELECT doc_id,
         (n_tokens BETWEEN 20 AND 5000
          AND CAST(n_unique AS DOUBLE) / n_tokens >= 0.2
          AND (lang <> 'en'
               OR CAST(n_stop AS DOUBLE) / n_tokens >= 0.02)) AS label,
         CAST(round(CAST(n_unique AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS uniq_r,
         CAST(round(CAST(n_stop AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS stop_r,
         CAST(round(CAST(len_chars - n_tokens + 1 AS DOUBLE) / n_tokens,
                    6) AS DECIMAL(18,6)) AS awl,
         CAST(round(CAST(least(n_tokens, 200) AS DOUBLE) / 200, 6)
              AS DECIMAL(18,6)) AS len_r
  FROM m
), s AS (
  SELECT doc_id, label,
         CAST(round(CAST(round(
             CAST(0.25 AS DECIMAL(6,3))
           + CAST(0.40 AS DECIMAL(6,3)) * uniq_r
           + CAST(-0.30 AS DECIMAL(6,3)) * stop_r
           + CAST(0.02 AS DECIMAL(6,3)) * awl
           + CAST(0.15 AS DECIMAL(6,3)) * len_r, 6) AS DOUBLE)
           * 1000000) AS BIGINT) AS s_int
  FROM f
)
SELECT CAST(CASE WHEN s_int < 400000 THEN -1
            ELSE least(15, (s_int - 400000) // 20000) END AS BIGINT)
         AS bucket,
       count(*) AS n_docs,
       CAST(round(CAST(CAST(SUM(s_int) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE) * 1000000.0)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS mean_score,
       CAST(round(CAST(
         CAST(count(CASE WHEN label THEN 1 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS pos_rate
FROM s GROUP BY 1
""",
    tags=("llm", "evaluation", "calibration"),
)
def score_reliability_diagram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram (calibration curve) for the linear quality
    scorer: per threshold-grid bucket, the mean predicted score next
    to the observed positive rate of the heuristic-gate labels — a
    well-calibrated scorer tracks the diagonal; systematic gaps mean
    the cutoff chosen from score_pr_curve's sweep will over- or
    under-admit at scale.  Same integer micro-unit bucketing as the
    PR curve: one scan, 17-bucket aggregate, every reported number
    an exact-integer ratio."""
    scores = doc_model_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("score") * 1000000).cast("long").alias("s_int"),
    )
    labels = doc_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("label")
    )
    s = scores.join(labels, "doc_id")
    idx = F.when(F.col("s_int") < 400000, F.lit(-1)).otherwise(
        F.least(
            F.lit(15),
            ((F.col("s_int") - 400000) / F.lit(20000)).cast("long"),
        )
    )
    return s.groupBy(idx.cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            (
                F.sum("s_int").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("mean_score"),
        F.round(
            (
                F.count(F.when(F.col("label"), 1)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("pos_rate"),
    )


@register(
    "corpus_heaps_law",
    oracle="""
WITH d AS (
  SELECT doc_id,
         strpos('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
           AS nib,
         str_split(text, ' ') AS toks
  FROM documents
),
doc_occ AS (
  SELECT nib, CAST(SUM(len(toks)) AS BIGINT) AS occ,
         count(*) AS docs
  FROM d GROUP BY nib
),
tok_min AS (
  SELECT tok, min(nib) AS mn
  FROM (SELECT nib, unnest(list_distinct(toks)) AS tok FROM d)
  GROUP BY tok
),
voc_h AS (SELECT mn AS nib, count(*) AS v FROM tok_min GROUP BY mn),
spine AS (SELECT unnest(range(0, 16)) AS nib),
cum AS (
  SELECT s.nib + 1 AS k,
         CAST(SUM(coalesce(o.occ, 0))
              OVER (ORDER BY s.nib) AS BIGINT) AS n_tokens,
         CAST(SUM(coalesce(o.docs, 0))
              OVER (ORDER BY s.nib) AS BIGINT) AS n_docs,
         CAST(SUM(coalesce(vh.v, 0))
              OVER (ORDER BY s.nib) AS BIGINT) AS vocab
  FROM spine s
  LEFT JOIN doc_occ o ON o.nib = s.nib
  LEFT JOIN voc_h vh ON vh.nib = s.nib
),
pts AS (
  SELECT k, n_tokens, n_docs, vocab,
         round(CAST(ln(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,12)), 12)
           AS x,
         round(CAST(ln(CAST(vocab AS DOUBLE)) AS DECIMAL(18,12)), 12)
           AS y
  FROM cum
),
ols AS (
  SELECT count(*) AS n,
         SUM(CAST(x AS DECIMAL(28,12))) AS sx,
         SUM(CAST(y AS DECIMAL(28,12))) AS sy,
         SUM(CAST(round(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                        AS DECIMAL(18,12)), 12)
                  AS DECIMAL(28,12))) AS sxy,
         SUM(CAST(round(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        AS DECIMAL(18,12)), 12)
                  AS DECIMAL(28,12))) AS sxx
  FROM pts
)
SELECT CAST(p.k AS BIGINT) AS k, p.n_docs, p.n_tokens, p.vocab,
       CAST(round(CAST(
         (CAST(o.n AS DOUBLE) * CAST(o.sxy AS DOUBLE)
          - CAST(o.sx AS DOUBLE) * CAST(o.sy AS DOUBLE))
         / (CAST(o.n AS DOUBLE) * CAST(o.sxx AS DOUBLE)
            - CAST(o.sx AS DOUBLE) * CAST(o.sx AS DOUBLE))
         AS DECIMAL(18,12)), 6) AS DOUBLE) AS heaps_beta
FROM pts p CROSS JOIN ols o
""",
    tags=("llm", "text", "corpus-health"),
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: vocabulary size at 16
    nested md5-bucketed corpus fractions plus the fitted growth
    exponent beta (V = K * N^beta; healthy natural text sits near
    0.4-0.6, beta ~ 0 screams template spam, beta ~ 1 screams
    id-like noise) — the corpus-health companion to
    corpus_zipf_slope.

    The nested-sample trick costs ONE scan: each token's MINIMUM
    doc-nibble says which cumulative fractions contain it, so
    vocab(k) is a 16-row cumulative sum of the min-nibble histogram
    — never 16 distinct-counts.  ln/OLS follow the zipf
    round-while-DECIMAL convention.

    At 100 TB: token stream -> |V|-bounded min aggregate -> 16-row
    spine windows; fractions are md5-nested so the curve is
    reproducible and monotone by construction."""
    docs = load_table(spark, sf_dir, "documents")
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
            ),
        )
        - 1
    )
    d = docs.select(
        nib.alias("nib"), F.split("text", " ", -1).alias("toks")
    )
    doc_occ = d.groupBy("nib").agg(
        F.sum(F.size("toks")).cast("long").alias("occ"),
        F.count(F.lit(1)).alias("docs"),
    )
    tok_min = (
        d.select("nib", F.explode(F.array_distinct("toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("nib").alias("mn"))
    )
    voc_h = tok_min.groupBy(F.col("mn").alias("nib")).agg(
        F.count(F.lit(1)).alias("v")
    )
    spine = spark.range(16).select(F.col("id").alias("nib"))
    wcum = Window.orderBy("nib").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        spine.join(F.broadcast(doc_occ), "nib", "left")
        .join(F.broadcast(voc_h), "nib", "left")
        .select(
            (F.col("nib") + 1).alias("k"),
            F.sum(F.coalesce("occ", F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("n_tokens"),
            F.sum(F.coalesce("docs", F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("n_docs"),
            F.sum(F.coalesce("v", F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("vocab"),
        )
    )
    pts = cum.select(
        "k",
        "n_tokens",
        "n_docs",
        "vocab",
        F.round(
            F.log(F.col("n_tokens").cast("double")).cast("decimal(18,12)"),
            12,
        ).alias("x"),
        F.round(
            F.log(F.col("vocab").cast("double")).cast("decimal(18,12)"), 12
        ).alias("y"),
    )
    ols = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,12)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,12)")).alias("sy"),
        F.sum(
            F.round(
                (F.col("x").cast("double") * F.col("y").cast("double")).cast(
                    "decimal(18,12)"
                ),
                12,
            ).cast("decimal(28,12)")
        ).alias("sxy"),
        F.sum(
            F.round(
                (F.col("x").cast("double") * F.col("x").cast("double")).cast(
                    "decimal(18,12)"
                ),
                12,
            ).cast("decimal(28,12)")
        ).alias("sxx"),
    )
    beta = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return pts.crossJoin(F.broadcast(ols)).select(
        F.col("k").cast("long").alias("k"),
        "n_docs",
        "n_tokens",
        "vocab",
        F.round(beta.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("heaps_beta"),
    )


@register(
    "packing_efficiency",
    oracle="""
WITH d AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         len(str_split(text, ' ')) AS toks
  FROM documents
),
c AS (
  SELECT doc_id, shard, toks,
         SUM(toks) OVER (PARTITION BY shard ORDER BY h, doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
),
packs AS (
  SELECT shard,
         CAST((cum - toks) // 512 AS BIGINT) AS pack_id,
         CAST(sum(toks) AS BIGINT) AS pack_tokens
  FROM c GROUP BY shard, CAST((cum - toks) // 512 AS BIGINT)
)
SELECT shard,
       count(*) AS n_packs,
       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN pack_tokens > 512 THEN pack_tokens - 512
                ELSE 0 END) AS BIGINT) AS overflow_tokens,
       CAST(round(CAST(
         CAST(SUM(least(pack_tokens, 512)) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 512.0)
         AS DECIMAL(18,12)), 6) AS DOUBLE) AS utilization
FROM packs GROUP BY shard
""",
    tags=("llm", "packing", "efficiency"),
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over seq_packing's 512-token
    contexts: per shard, pack count, token totals, boundary-overflow
    tokens (a doc straddling its pack's budget — the packer's
    documented first-token rule), and context utilization
    (capped-fill / capacity) — the number that prices wasted compute
    per training epoch.  All counts integer; utilization is one
    integer-ratio double.

    At 100 TB: identical per-shard parallel shape as seq_packing
    (this IS its aggregate), so the report is free relative to the
    packing pass it audits."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    d = docs.select(
        "doc_id",
        F.substring(h, 1, 1).alias("shard"),
        h.alias("h"),
        F.size(F.split("text", " ", -1)).alias("toks"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.withColumn("cum", F.sum("toks").over(w))
    packs = (
        c.withColumn(
            "pack_id", F.expr("(cum - toks) div 512").cast("long")
        )
        .groupBy("shard", "pack_id")
        .agg(F.sum("toks").cast("long").alias("pack_tokens"))
    )
    return packs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.when(
                F.col("pack_tokens") > 512, F.col("pack_tokens") - 512
            ).otherwise(0)
        )
        .cast("long")
        .alias("overflow_tokens"),
        F.round(
            (
                F.sum(F.least(F.col("pack_tokens"), F.lit(512))).cast(
                    "double"
                )
                / (F.count(F.lit(1)).cast("double") * F.lit(512.0))
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("utilization"),
    )


@register(
    "doc_ngram_novelty",
    oracle="""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct([md5(array_to_string(toks[i:i+7], ' '))
                               for i in range(1, len(toks) - 6)])) AS g
  FROM t WHERE len(toks) >= 8
),
firstseen AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g),
j AS (
  SELECT grams.doc_id,
         count(*) AS n_grams,
         CAST(count(CASE WHEN f.first_doc = grams.doc_id THEN 1 END)
              AS BIGINT) AS n_novel
  FROM grams JOIN firstseen f ON grams.g = f.g
  GROUP BY grams.doc_id
)
SELECT doc_id, n_grams, n_novel,
       CAST(round(CAST(CAST(n_novel AS DOUBLE)
                       / CAST(n_grams AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS novelty
FROM j
""",
    tags=("llm", "text", "novelty"),
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty: the fraction of a document's
    distinct 8-grams whose FIRST occurrence (by doc_id ingestion
    order) is this document — the marginal-contribution metric that
    ranks documents by how much genuinely new text they add to the
    corpus (novelty ~ 0 means the doc is stitched from already-seen
    spans even if no single near-dup match exists; the
    contamination_check / dedup_substring_spans sibling).

    At 100 TB: grams hash to md5 before the shuffle (16-byte keys);
    first-seen is one min() aggregate with map-side partials, and
    the join-back touches each (doc, gram) row once — the same
    inverted-index discipline as contamination_check, with the
    keep-FIRST rule of dedup_incremental applied at span grain."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ", -1).alias("toks"))
    grams = (
        t.filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(toks) - 7),"
                        " i -> md5(cast(array_join(slice(toks, i, 8), ' ')"
                        " as binary)))"
                    )
                )
            ).alias("g"),
        )
    )
    firstseen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    j = (
        grams.join(firstseen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return j.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(
            (
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("novelty"),
    )


@register(
    "source_lang_entropy",
    oracle="""
WITH c AS (
  SELECT source, lang, count(*) AS n FROM documents
  GROUP BY source, lang
),
tot AS (SELECT source, SUM(n) AS ns FROM c GROUP BY source),
terms AS (
  SELECT c.source, c.n, t.ns,
         round(CAST((CAST(c.n AS DOUBLE) / CAST(t.ns AS DOUBLE))
                    * ln(CAST(c.n AS DOUBLE) / CAST(t.ns AS DOUBLE))
               AS DECIMAL(18,12)), 12) AS term
  FROM c JOIN tot t ON c.source = t.source
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       count(*) AS n_langs,
       CAST(round(-SUM(CAST(term AS DECIMAL(28,12))), 6) AS DOUBLE)
         AS lang_entropy
FROM terms GROUP BY source
""",
    tags=("llm", "profiling", "diversity"),
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix Shannon entropy per source (nats): the diversity
    number a mixture designer reads next to dataset_card_stats —
    entropy 0 is a monolingual feed, ln(|langs|) is a uniform mix;
    dataset_alpha_mix's flattening is judged against exactly this.
    Per-term p*ln(p) rounded while DECIMAL (zipf convention), summed
    exactly.

    At 100 TB: one (source, lang) aggregate — |sources| x |langs|
    partial rows — then arithmetic on that tiny table."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("source").agg(F.sum("n").alias("ns"))
    p = F.col("n").cast("double") / F.col("ns").cast("double")
    terms = c.join(tot, "source").select(
        "source",
        "n",
        F.round((p * F.log(p)).cast("decimal(18,12)"), 12).alias("term"),
    )
    return terms.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.round(-F.sum(F.col("term").cast("decimal(28,12)")), 6)
        .cast("double")
        .alias("lang_entropy"),
    )


@register(
    "tokenizer_fertility",
    oracle="""
WITH m AS (
  SELECT lang,
         len(str_split(text, ' ')) AS ws,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))
           AS bpe
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       CAST(round(CAST(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS fertility
FROM m GROUP BY lang
""",
    tags=("llm", "tokenizer", "multilingual"),
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: subword-ish tokens per
    whitespace word (the BPE-ish regex tokenizer over the whitespace
    baseline) — the standard multilingual-tokenizer equity metric
    (a language with 2x the fertility pays 2x the context budget and
    2x the inference cost for the same text; the number that drives
    vocab-allocation decisions).  Integer token counts, one
    integer-ratio double.

    At 100 TB: per-row counting is shuffle-free (regexp + split in
    codegen); the rollup is a |langs|-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "lang",
        F.size(F.split("text", " ", -1)).cast("long").alias("ws"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"), 0
            )
        )
        .cast("long")
        .alias("bpe"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.round(
            (
                F.sum("bpe").cast("double") / F.sum("ws").cast("double")
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("fertility"),
    )


@register(
    "prep_pipeline",
    oracle="""
WITH q AS (
  SELECT doc_id, str_split(text, ' ') AS toks,
         len(str_split(text, ' ')) AS n_toks,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
              THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val' ELSE 'test' END AS split
  FROM documents
  WHERE len(str_split(text, ' ')) >= 5
),
grams AS (
  SELECT doc_id, split,
         unnest(list_distinct([md5(array_to_string(toks[i:i+7], ' '))
                for i in range(1, len(toks) - 6)])) AS h
  FROM q WHERE split IN ('train', 'test')
),
common AS (
  SELECT h FROM grams WHERE split = 'train'
  GROUP BY h HAVING count(*) <= 100
),
contaminated AS (
  SELECT DISTINCT test_doc AS doc_id FROM (
    SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc
    FROM (SELECT * FROM grams WHERE split = 'test') te
    JOIN (SELECT * FROM grams WHERE split = 'train') tr ON te.h = tr.h
    JOIN common c ON te.h = c.h
    GROUP BY te.doc_id, tr.doc_id
    HAVING count(*) >= 3)
),
kept AS (
  SELECT * FROM q
  WHERE NOT (split = 'test'
             AND doc_id IN (SELECT doc_id FROM contaminated))
),
packs AS (
  SELECT doc_id, n_toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         SUM(n_toks) OVER (
             PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM kept WHERE split = 'train'
),
packstat AS (
  SELECT 'train' AS split,
         count(DISTINCT shard || ':'
               || CAST((cum - n_toks) // 512 AS VARCHAR)) AS packs,
         sum(n_toks) AS ptoks
  FROM packs
)
SELECT k.split,
       count(*) AS n_docs,
       CAST(sum(k.n_toks) AS BIGINT) AS n_tokens,
       coalesce(any_value(p.packs), 0) AS n_packs,
       coalesce(round(CAST(any_value(p.ptoks) AS DOUBLE)
                      / (any_value(p.packs) * 512), 6), 0.0)
         AS fill_rate
FROM kept k LEFT JOIN packstat p ON k.split = p.split
GROUP BY k.split
""",
    tags=("llm", "curation", "flagship"),
)
def prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data prep FLAGSHIP: quality-filter -> leak-free split
    -> test-set DECONTAMINATION -> train packing -> per-split report,
    composed as ONE Spark plan the way ``curation_pipeline`` composes
    dedup.  Stage semantics are the registry's own:
    ``dataset_split``'s md5 buckets, ``contamination_check``'s
    suppressed-8-gram rule (here applied as the removal it exists
    for: contaminated test docs are DROPPED, not just reported), and
    ``seq_packing``'s per-shard 512-token greedy fill (the packing
    stats are per SHARD, embarrassingly parallel — no global cumsum).

    Scale: the gram join is equi on md5 with the >100-train-doc
    suppression capping fan-out; packing windows partition by the
    16-way shard key (one md5 hex char — widen the substring for
    more shards); the pack-stats row reaches the report through
    a broadcast equi-join on the split key (NOT a crossJoin — keeps
    BroadcastNestedLoopJoin out of the plan, test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents")
    h2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test")
    )
    q = (
        docs.select(
            "doc_id",
            F.split("text", " ", -1).alias("toks"),
            split.alias("split"),
        )
        .withColumn("n_toks", F.size("toks"))
        .filter(F.col("n_toks") >= 5)
    )
    # 16-byte BINARY gram keys (unhex) — internal only (h never
    # reaches an output column), halving the gram joins' bytes; and
    # ONE materialization of the exploded gram table, which feeds
    # three consumers (train grams twice + test grams) that would
    # each re-run the scan + shingle explode (r13).
    grams8 = F.when(
        F.size("toks") >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 7),
                lambda i: F.unhex(
                    F.md5(
                        F.array_join(F.slice("toks", i, 8), " ").cast(
                            "binary"
                        )
                    )
                ),
            )
        ),
    ).otherwise(F.array().cast("array<binary>"))
    grams = (
        q.filter(F.col("split") != "val")
        .select("doc_id", "split", F.explode(grams8).alias("h"))
        .localCheckpoint()
    )
    train_g = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "h"
    )
    test_g = grams.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "h"
    )
    common = (
        train_g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_train"))
        .filter(F.col("n_train") <= 100)
        .select("h")
    )
    contaminated = (
        test_g.join(common, "h")
        .join(train_g, "h")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select(F.col("test_doc").alias("doc_id"))
        .distinct()
    )
    # kept feeds the packing window AND the final per-split aggregate;
    # narrow it (toks is not needed downstream) and leave it LAZY
    # (r14, the r13 crossmodal/phash lesson): its duplicated subtree
    # re-reads the grams CACHE, AQE runtime stage reuse dedups the
    # repeated decontamination shuffles, and dropping the checkpoint
    # removes a blocking job barrier — A/B 0.86x at local[4] (mins
    # 2.07 -> 1.77, lower in all rounds), neutral-or-better at
    # local[32]; the driver's r13 bench had flagged the checkpointed
    # form 0.88x.
    kept = q.join(
        contaminated,
        (q["doc_id"] == contaminated["doc_id"])
        & (q["split"] == "test"),
        "left_anti",
    ).select("doc_id", "split", "n_toks")
    h1 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    )
    hfull = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packs = (
        kept.filter(F.col("split") == "train")
        .select(
            "doc_id",
            "split",
            "n_toks",
            h1.alias("shard"),
            hfull.alias("h"),
        )
        .withColumn("cum", F.sum("n_toks").over(w))
        # all-integer floor division (the seq_packing idiom): the
        # double path is exact only below 2^53 cumulative tokens,
        # while the oracle's `// 512` is exact everywhere.
        .withColumn("pack_id", F.expr("(cum - n_toks) div 512"))
    )
    # group by the REAL split column (all 'train') rather than
    # attaching lit("train") after a global agg: a literal key
    # constant-folds and the report join degrades to a 1-row
    # BroadcastNestedLoopJoin; a data-derived key keeps it equi.
    packstat = packs.groupBy("split").agg(
        F.countDistinct("shard", "pack_id").alias("packs"),
        F.sum("n_toks").alias("ptoks"),
    )
    return (
        kept.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
        .join(F.broadcast(packstat), "split", "left")
        .select(
            "split",
            "n_docs",
            "n_tokens",
            F.coalesce("packs", F.lit(0)).alias("n_packs"),
            F.coalesce(
                F.round(
                    F.col("ptoks").cast("double")
                    / (F.col("packs") * 512),
                    6,
                ),
                F.lit(0.0),
            ).alias("fill_rate"),
        )
    )


@register(
    "score_roc_auc",
    oracle=f"""
WITH {_SCORED_SQL},
per AS (
  SELECT s_int,
         count(CASE WHEN label THEN 1 END) AS pos,
         count(CASE WHEN NOT label THEN 1 END) AS neg
  FROM s GROUP BY s_int
),
c AS (
  SELECT s_int, pos, neg,
         coalesce(SUM(neg) OVER (ORDER BY s_int
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below
  FROM per
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(neg) AS BIGINT) AS n_neg,
       CAST(round(CAST(SUM(2 * neg_below * pos + neg * pos) AS DOUBLE)
                  / CAST(2 * SUM(pos) * SUM(neg) AS DOUBLE), 6)
            AS DOUBLE) AS auc
FROM c
""",
    tags=("llm", "evaluation", "classifier"),
)
def score_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of the linear quality scorer against the
    heuristic gate labels — the Mann-Whitney rank formula with proper
    tie handling, computed without materializing pairs: group docs by
    integer micro-unit score, cumulative negatives-below per distinct
    score, then AUC = sum(2*neg_below*pos + neg*pos) / (2*pos*neg).
    The numerator stays INTEGER until the final division, so both
    engines round the identical double.

    Scale shape: the corpus aggregates to at most 1,000,001 rows
    (distinct s_int values — the score grid is bounded by
    construction, NOT by corpus size) before the one ordered window
    runs; pos/neg counts partial-aggregate map-side.  This is the
    single-pass, pair-free AUC a 100 TB eval job needs — the naive
    pos x neg comparison join is quadratic.

    Completes the classifier-eval family: score_pr_curve (threshold
    choice), score_reliability_diagram (calibration), this
    (ranking quality)."""
    scores = doc_model_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("score") * 1000000).cast("long").alias("s_int"),
    )
    labels = doc_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("label")
    )
    per = (
        scores.join(labels, "doc_id")
        .groupBy("s_int")
        .agg(
            F.count(F.when(F.col("label"), 1)).alias("pos"),
            F.count(F.when(~F.col("label"), 1)).alias("neg"),
        )
    )
    w = Window.orderBy("s_int").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = per.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    return c.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.round(
            F.sum(
                2 * F.col("neg_below") * F.col("pos")
                + F.col("neg") * F.col("pos")
            ).cast("double")
            / (2 * F.sum("pos") * F.sum("neg")).cast("double"),
            6,
        ).alias("auc"),
    )


@register(
    "freq_count_min_estimate",
    oracle="""
WITH toks AS (
  SELECT unnest(str_split(text, ' ')) AS tok FROM documents
),
exact AS (
  SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok
),
rows_ AS (
  SELECT t.tok, r.r,
         CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || t.tok),
                             1, 8) AS BIGINT) % 512 AS bucket
  FROM toks t CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r
),
cms AS (
  SELECT r, bucket, count(*) AS c FROM rows_ GROUP BY r, bucket
),
top AS (
  SELECT tok, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, tok LIMIT 20
),
probe AS (
  SELECT t.tok, t.exact_cnt, r.r,
         CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || t.tok),
                             1, 8) AS BIGINT) % 512 AS bucket
  FROM top t CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r
)
SELECT p.tok, p.exact_cnt,
       CAST(min(c.c) AS BIGINT) AS cms_est,
       CAST(min(c.c) - p.exact_cnt AS BIGINT) AS overestimate
FROM probe p JOIN cms c ON p.r = c.r AND p.bucket = c.bucket
GROUP BY p.tok, p.exact_cnt
""",
    tags=("frequency", "sketch", "count-min"),
)
def freq_count_min_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH, audited against truth: a 4 x 512 counter grid
    (md5 row-hashes — engine-portable, deterministic) summarizes the
    whole token stream; the top-20 exact heavy hitters are then
    probed back through the sketch and reported with their
    overestimate.  A green row certifies the CMS guarantee on this
    corpus: est >= exact always (min over rows can only overcount),
    with the error visible per token.

    Scale shape: the sketch build is ONE partial-aggregated groupBy
    onto a FIXED 2048-cell grid (mergeable by addition — the same
    property the HLL/moment sketches exploit; shard sketches add
    cell-wise at 100 TB), and probing joins 80 constant rows against
    it.  The exact top-20 is TakeOrdered, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ", -1)).alias("tok")
    )
    rs = F.array(*[F.lit(r) for r in range(4)])

    def bucket(r, tok):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            r.cast("string"), F.lit(":"), tok
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 512
        )

    rows = toks.select(
        "tok", F.explode(rs).alias("r")
    ).withColumn("bucket", bucket(F.col("r"), F.col("tok")))
    cms = rows.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), "tok").limit(20)
    probe = top.select(
        "tok", "exact_cnt", F.explode(rs).alias("r")
    ).withColumn("bucket", bucket(F.col("r"), F.col("tok")))
    return (
        probe.join(cms, ["r", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
        .select(
            "tok",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("overestimate"),
        )
    )


@register(
    "text_code_detect",
    oracle="""
SELECT doc_id,
       CAST(length(text) - length(translate(text, '{};()=<>[]#', ''))
            AS BIGINT) AS sym_cnt,
       round(CAST(length(text)
                  - length(translate(text, '{};()=<>[]#', ''))
                  AS DOUBLE) / length(text), 6) AS sym_ratio,
       (CAST(length(text)
             - length(translate(text, '{};()=<>[]#', ''))
             AS DOUBLE) / length(text)) >= 0.03 AS is_code
FROM documents
WHERE length(text) > 0
""",
    tags=("text", "quality", "code-detect"),
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the pretraining corpus router that
    decides whether a document goes to the code pipeline or the
    natural-language one.  Signal: density of code-punctuation
    characters ({};()=<>[]#), counted by the translate-delete trick
    (length minus length-after-deleting) — two codepoint scans, NO
    regex, per the measured per-token-regex lesson (SCALE.md: a JVM
    regexp_replace in a hot path costs ~50 us/call; translate is
    ~50x cheaper).  The threshold comparison runs on the UNROUNDED
    ratio in both engines (identical doubles), with the reported
    ratio rounded to 6 for display.

    At 100 TB: pure per-row projection fused into the scan —
    no shuffle, no UDF, whole-stage codegen end to end."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    sym = F.length("text") - F.length(
        F.translate(F.col("text"), "{};()=<>[]#", "")
    )
    ratio = sym.cast("double") / F.length("text")
    return docs.select(
        "doc_id",
        sym.cast("long").alias("sym_cnt"),
        F.round(ratio, 6).alias("sym_ratio"),
        (ratio >= 0.03).alias("is_code"),
    )


@register(
    "truncation_loss_report",
    oracle="""
WITH t AS (
  SELECT source, len(str_split(text, ' ')) AS n_tokens FROM documents
), b AS (
  SELECT source, n_tokens, unnest([64, 128]) AS budget FROM t
)
SELECT source, CAST(budget AS BIGINT) AS budget,
       count(*) AS n_docs,
       CAST(count(CASE WHEN n_tokens > budget THEN 1 END) AS BIGINT)
         AS docs_truncated,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(greatest(0, n_tokens - budget)) AS BIGINT)
         AS tokens_lost,
       round(CAST(sum(greatest(0, n_tokens - budget)) AS DOUBLE)
             / sum(n_tokens), 6) AS loss_share
FROM b GROUP BY source, budget
""",
    tags=("llm", "tokenizer", "truncation"),
)
def truncation_loss_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence-length budget planning: for each candidate context
    budget, how many documents a source would truncate and what
    fraction of its tokens fall off the end — the report an operator
    reads BEFORE fixing max_seq_len for a training run (the
    complement of packing_efficiency, which assumes the budget and
    measures padding waste; this one measures the data you LOSE).

    All integer token counts; the only division is the final
    small-integer ratio, rounded at 6 identically in both engines.

    At 100 TB: one scan, one partial+final aggregate on
    (source, budget) — the budget grid rides a 2-element explode, so
    adding a candidate budget adds |sources| output rows, never
    another scan."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    b = t.select(
        "source",
        "n_tokens",
        F.explode(F.array(F.lit(64), F.lit(128))).alias("budget"),
    )
    lost = F.greatest(F.lit(0), F.col("n_tokens") - F.col("budget"))
    return b.groupBy("source", F.col("budget").cast("long").alias("budget")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("n_tokens") > F.col("budget"), 1))
        .cast("long")
        .alias("docs_truncated"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(lost).cast("long").alias("tokens_lost"),
        F.round(
            F.sum(lost).cast("double") / F.sum("n_tokens"), 6
        ).alias("loss_share"),
    )


@register(
    "shard_manifest_balance",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 8 AS shard,
         len(str_split(text, ' ')) AS n_tokens
  FROM documents
), s AS (
  SELECT shard, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM t GROUP BY shard
), tot AS (SELECT sum(shard_tokens) AS total_tokens FROM s)
SELECT CAST(shard AS BIGINT) AS shard, n_docs, shard_tokens,
       min_doc, max_doc,
       round(CAST(shard_tokens AS DOUBLE) / total_tokens, 6)
         AS token_share,
       round(CAST(shard_tokens AS DOUBLE) * 8 / total_tokens, 6)
         AS balance_ratio
FROM s CROSS JOIN tot
""",
    tags=("llm", "export", "sharding"),
)
def shard_manifest_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-export shard manifest: deterministic md5-hash
    assignment of documents to 8 output shards plus the balance audit
    (per-shard token share and its ratio to the uniform ideal) that
    decides whether the export is safe to ship — a shard 2x the mean
    becomes the straggler every epoch of every downstream run.

    Hash sharding (not size-sorted bin packing) is the deliberate
    100 TB design: LPT-style packing needs a global sort and a
    sequential greedy pass, while the hash assignment is a pure
    per-row projection and the law of large numbers makes shard skew
    vanish as shards fill (the audit PROVES it did).  Same md5 idiom
    as dataset_split, so shard membership is stable across engines,
    re-runs, and corpus additions.

    At 100 TB: one scan, one 8-group partial+final aggregate, and a
    broadcast 1-row total — the manifest costs less than listing the
    input files."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 8
    )
    t = docs.select(
        "doc_id",
        shard.alias("shard"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    s = t.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    tot = s.agg(F.sum("shard_tokens").alias("total_tokens"))
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "shard_tokens",
        "min_doc",
        "max_doc",
        F.round(
            F.col("shard_tokens").cast("double") / F.col("total_tokens"),
            6,
        ).alias("token_share"),
        F.round(
            F.col("shard_tokens").cast("double")
            * 8
            / F.col("total_tokens"),
            6,
        ).alias("balance_ratio"),
    )


@register(
    "score_brier_decomposition",
    oracle=f"""
WITH {_SCORED_SQL},
p AS (
  SELECT doc_id, label,
         least(1000000, greatest(0, s_int)) AS p_int
  FROM s
),
tot AS (
  SELECT count(*) AS n,
         count(CASE WHEN label THEN 1 END) AS n_pos,
         CAST(SUM(CAST((p_int - CASE WHEN label THEN 1000000 ELSE 0 END)
                       * (p_int - CASE WHEN label THEN 1000000 ELSE 0 END)
                       AS DECIMAL(38,0))) AS DOUBLE) AS sq_sum
  FROM p
),
bins AS (
  SELECT least(9, p_int // 100000) AS bin,
         count(*) AS n_k,
         count(CASE WHEN label THEN 1 END) AS pos_k,
         CAST(sum(p_int) AS BIGINT) AS sum_p_k
  FROM p GROUP BY 1
),
comp AS (
  SELECT
    CAST(SUM(CAST(n_k * (CAST(sum_p_k AS DOUBLE) / n_k / 1000000
                         - CAST(pos_k AS DOUBLE) / n_k)
                      * (CAST(sum_p_k AS DOUBLE) / n_k / 1000000
                         - CAST(pos_k AS DOUBLE) / n_k)
                  AS DECIMAL(18,12))) AS DOUBLE) AS rel_sum,
    CAST(SUM(CAST(n_k * (CAST(pos_k AS DOUBLE) / n_k
                         - (SELECT CAST(n_pos AS DOUBLE) / n FROM tot))
                      * (CAST(pos_k AS DOUBLE) / n_k
                         - (SELECT CAST(n_pos AS DOUBLE) / n FROM tot))
                  AS DECIMAL(18,12))) AS DOUBLE) AS res_sum
  FROM bins
)
SELECT CAST(tot.n AS BIGINT) AS n_docs,
       CAST(tot.n_pos AS BIGINT) AS n_pos,
       round(tot.sq_sum / 1000000000000.0 / tot.n, 6) AS brier,
       round(comp.rel_sum / tot.n, 6) AS reliability,
       round(comp.res_sum / tot.n, 6) AS resolution,
       round((CAST(tot.n_pos AS DOUBLE) / tot.n)
             * (1 - CAST(tot.n_pos AS DOUBLE) / tot.n), 6)
         AS uncertainty
FROM tot CROSS JOIN comp
""",
    tags=("llm", "evaluation", "calibration"),
)
def score_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Murphy decomposition of the quality scorer's Brier score
    against the heuristic gate labels: raw Brier (mean squared error
    of the clamped probability), plus the 10-bin reliability
    (calibration error), resolution (how much the bins separate the
    base rate), and uncertainty (base-rate variance) components —
    reliability - resolution + uncertainty reproduces the binned
    Brier, and the gap between a LOW reliability and a HIGH
    resolution is what score_reliability_diagram shows per-bin and
    this query reduces to two decision numbers.

    Parity spine: probabilities are integer micro-units, so the raw
    Brier numerator is an EXACT integer (sum of (p_int - l*1e6)^2 in
    DECIMAL(38,0) — order-insensitive); the per-bin component terms
    are identical doubles built from integer bin aggregates, each
    rounded through DECIMAL(18,12) before the 10-term sum.

    At 100 TB: one scan feeding two bounded aggregates (a 1-row total
    and a 10-row bin table) — every component falls out of integer
    bin counts, the corpus is never re-read."""
    scores = doc_model_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("score") * 1000000).cast("long").alias("s_int"),
    )
    labels = doc_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("label")
    )
    p = scores.join(labels, "doc_id").select(
        "label",
        F.least(
            F.lit(1000000), F.greatest(F.lit(0), F.col("s_int"))
        ).alias("p_int"),
    )
    lbl_int = F.when(F.col("label"), 1000000).otherwise(0)
    sq = (F.col("p_int") - lbl_int) * (F.col("p_int") - lbl_int)
    tot = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("label"), 1)).alias("n_pos"),
        F.sum(sq.cast("decimal(38,0)")).cast("double").alias("sq_sum"),
    )
    bins = p.groupBy(
        F.least(F.lit(9), F.expr("p_int div 100000")).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_k"),
        F.count(F.when(F.col("label"), 1)).alias("pos_k"),
        F.sum("p_int").cast("long").alias("sum_p_k"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    obar = F.col("n_pos").cast("double") / F.col("n")
    pbar_k = F.col("sum_p_k").cast("double") / F.col("n_k") / 1000000
    o_k = F.col("pos_k").cast("double") / F.col("n_k")
    comp = j.agg(
        F.sum(
            (F.col("n_k") * (pbar_k - o_k) * (pbar_k - o_k)).cast(
                "decimal(18,12)"
            )
        )
        .cast("double")
        .alias("rel_sum"),
        F.sum(
            (F.col("n_k") * (o_k - obar) * (o_k - obar)).cast(
                "decimal(18,12)"
            )
        )
        .cast("double")
        .alias("res_sum"),
    )
    return tot.crossJoin(F.broadcast(comp)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(
            F.col("sq_sum") / F.lit(1000000000000.0) / F.col("n"), 6
        ).alias("brier"),
        F.round(F.col("rel_sum") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res_sum") / F.col("n"), 6).alias("resolution"),
        F.round(
            (F.col("n_pos").cast("double") / F.col("n"))
            * (F.lit(1) - F.col("n_pos").cast("double") / F.col("n")),
            6,
        ).alias("uncertainty"),
    )


@register(
    "dataset_token_budget",
    oracle="""
WITH t AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_toks
  FROM documents
),
r AS (
  SELECT doc_id, source, n_toks,
         sum(n_toks) OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source,
       count(*) AS n_docs_total,
       CAST(sum(CASE WHEN cum <= 20000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(sum(CASE WHEN cum <= 20000 THEN n_toks ELSE 0 END) AS BIGINT)
         AS n_tokens_kept,
       CAST(round(CAST(CAST(sum(CASE WHEN cum <= 20000 THEN n_toks
                                 ELSE 0 END) AS DOUBLE) / 20000.0
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS budget_frac
FROM r GROUP BY source
""",
    tags=("llm", "sampling", "mixing"),
)
def dataset_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE TOKEN-BUDGET sampling — the quota step of dataset
    mixing: within each source, documents are ranked by md5(doc_id)
    (pseudorandom yet deterministic, the dataset_split idiom) and the
    greedy prefix whose INCLUSIVE cumulative token count stays within
    the 20,000-token budget is kept.  Report per source: totals,
    kept counts, and budget utilisation — the knob a data-mixing run
    turns when one source must not dominate the token mix.

    Scale shape: one window per source (single shuffle on the
    bounded-cardinality source key), all-integer cumulative sums —
    no sampling randomness to reconcile across engines, re-runs, or
    engine versions; the same rule at 100 TB keeps whole-corpus
    reproducibility because the rank is content-addressed, not
    row-order-dependent."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_toks"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(
            F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = t.withColumn("cum", F.sum("n_toks").over(w))
    kept = F.when(F.col("cum") <= 20000, F.col("n_toks")).otherwise(0)
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.sum(F.when(F.col("cum") <= 20000, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_kept"),
        F.sum(kept).cast("long").alias("n_tokens_kept"),
        F.round(
            (F.sum(kept).cast("double") / F.lit(20000.0)).cast(
                "decimal(18,12)"
            ),
            6,
        )
        .cast("double")
        .alias("budget_frac"),
    )


_DOMAIN_CAP = 800
_GLOBAL_BUDGET = 10000


@register(
    "domain_quota_curation",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
d AS (
  SELECT doc_id, source, n_toks, h,
         sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_src
  FROM t
),
dom AS (SELECT doc_id, source, n_toks, h FROM d
        WHERE cum_src <= {_DOMAIN_CAP}),
g AS (
  SELECT doc_id, source, n_toks,
         sum(n_toks) OVER (ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_all
  FROM dom
),
fin AS (
  SELECT source, count(*) AS n_final, sum(n_toks) AS toks_final
  FROM g WHERE cum_all <= {_GLOBAL_BUDGET} GROUP BY source
),
dd AS (SELECT source, count(*) AS n_dom FROM dom GROUP BY source),
tt AS (SELECT source, count(*) AS n_total FROM t GROUP BY source)
SELECT tt.source,
       CAST(tt.n_total AS BIGINT) AS n_docs_total,
       CAST(coalesce(dd.n_dom, 0) AS BIGINT) AS n_domain_kept,
       CAST(coalesce(fin.n_final, 0) AS BIGINT) AS n_final_kept,
       CAST(coalesce(fin.toks_final, 0) AS BIGINT) AS n_tokens_final
FROM tt
LEFT JOIN dd ON dd.source = tt.source
LEFT JOIN fin ON fin.source = tt.source
""",
    tags=("llm", "curation", "domain", "quota"),
)
def domain_quota_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL domain/URL-host curation — the quota structure a web
    corpus actually ships with: level 1 caps every DOMAIN (source) at
    _DOMAIN_CAP (800) tokens so no single host dominates (the
    C4/RefinedWeb per-domain rule), then level 2 admits the
    domain-surviving docs in global content-addressed order until
    the _GLOBAL_BUDGET (10,000) token corpus budget is spent.  A doc rejected by its domain cap never consumes
    global budget, which is exactly what makes the two levels
    COMPOSE: level 1 is decidable within the domain, level 2 is a
    running sum over level-1 survivors only.  Per source out: total
    docs, domain-cap survivors, final admissions, final tokens.

    Composes with ``dataset_token_budget`` (same greedy
    content-addressed prefix rule, one level) and
    ``dataset_epoch_plan`` (which decides the per-source shares this
    query then enforces).

    Scale shape: both running sums are SKEW-SAFE through
    ``_lang_bucket_rank`` — per-domain over (source, md5-prefix
    bucket), and the GLOBAL sum over a constant key with the same
    256-bucket split (a naive global window is one task for the
    whole corpus; here the offsets table is 256 rows and the data
    never leaves 256-way parallelism).  All-integer arithmetic, so
    engine parity is exact."""
    docs = load_table(spark, sf_dir, "documents")
    # t feeds the level-1 ranking AND the per-source total; dom feeds
    # the level-2 ranking AND the survivor count — left lazy each
    # consumer re-ran the tokenize-count scan / the level-1 bucketed
    # window.  Checkpoint both narrow (doc_id, source, n_toks)
    # projections once (r13).
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_toks"),
    ).localCheckpoint()
    dom = (
        _lang_bucket_rank(t, cum_col="n_toks", key="source")
        .filter(F.col("cum") <= _DOMAIN_CAP)
        .select("doc_id", "source", "n_toks")
        .localCheckpoint()
    )
    fin = (
        _lang_bucket_rank(
            dom.withColumn("_g", F.lit("all")), cum_col="n_toks", key="_g"
        )
        .filter(F.col("cum") <= _GLOBAL_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_final"),
            F.sum("n_toks").alias("toks_final"),
        )
    )
    dd = dom.groupBy("source").agg(F.count(F.lit(1)).alias("n_dom"))
    tt = t.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tt.join(F.broadcast(dd), "source", "left")
        .join(F.broadcast(fin), "source", "left")
        .select(
            "source",
            F.col("n_total").cast("long").alias("n_docs_total"),
            F.coalesce("n_dom", F.lit(0))
            .cast("long")
            .alias("n_domain_kept"),
            F.coalesce("n_final", F.lit(0))
            .cast("long")
            .alias("n_final_kept"),
            F.coalesce("toks_final", F.lit(0))
            .cast("long")
            .alias("n_tokens_final"),
        )
    )


@register(
    "filter_attribution_report",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id, lang,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','is','in'], x))) AS n_stop
  FROM t
), fl AS (
  SELECT n_tokens,
         NOT (n_tokens BETWEEN 20 AND 5000) AS f_len,
         NOT (CAST(n_unique AS DOUBLE) / n_tokens >= 0.2) AS f_div,
         NOT (lang <> 'en'
              OR CAST(n_stop AS DOUBLE) / n_tokens >= 0.02) AS f_stop
  FROM m
)
SELECT 'length' AS rule,
       CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
       CAST(sum(CASE WHEN f_len AND NOT f_div AND NOT f_stop
                THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_fail,
       CAST(sum(CASE WHEN f_len THEN n_tokens ELSE 0 END) AS BIGINT)
         AS n_tokens_fail
FROM fl
UNION ALL
SELECT 'diversity',
       CAST(sum(CASE WHEN f_div THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_div AND NOT f_len AND NOT f_stop
                THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_div THEN n_tokens ELSE 0 END) AS BIGINT)
FROM fl
UNION ALL
SELECT 'stopword',
       CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_stop AND NOT f_len AND NOT f_div
                THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_stop THEN n_tokens ELSE 0 END) AS BIGINT)
FROM fl
""",
    tags=("llm", "quality", "report"),
)
def filter_attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER ATTRIBUTION for the quality gate: per rule (length
    band, lexical diversity, English stopword floor — exactly
    doc_quality_filter's predicate, decomposed), how many documents
    fail it, how many fail ONLY it (the marginal removal a rule-
    ablation would recover), and how many tokens it removes.  The
    report that tells a curation owner which rule is doing the work
    and which is dead weight before they tune thresholds.

    Scale shape: one scan computes the three boolean flags per doc,
    one explode x3 unpivots them into (rule, fail, uniq, tokens)
    rows, one groupBy on the 3-value rule key aggregates — no joins,
    no second pass over text."""
    docs = load_table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(w) for w in
                      ("the", "a", "of", "and", "to", "is", "in")])
    t = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array(F.split("text", " ", -1))).alias("toks"),
    )
    m = t.select(
        "lang",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique"),
        F.size(F.filter("toks", lambda x: F.array_contains(stops, x)))
        .cast("long")
        .alias("n_stop"),
    )
    f_len = ~F.col("n_tokens").between(20, 5000)
    f_div = ~(F.col("n_unique").cast("double") / F.col("n_tokens") >= 0.2)
    f_stop = ~(
        (F.col("lang") != "en")
        | (F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.02)
    )
    fl = m.select(
        "n_tokens",
        f_len.alias("f_len"),
        f_div.alias("f_div"),
        f_stop.alias("f_stop"),
    )
    rules = F.array(
        F.struct(
            F.lit("length").alias("rule"),
            F.col("f_len").alias("fail"),
            (F.col("f_len") & ~F.col("f_div") & ~F.col("f_stop")).alias(
                "uniq"
            ),
        ),
        F.struct(
            F.lit("diversity").alias("rule"),
            F.col("f_div").alias("fail"),
            (F.col("f_div") & ~F.col("f_len") & ~F.col("f_stop")).alias(
                "uniq"
            ),
        ),
        F.struct(
            F.lit("stopword").alias("rule"),
            F.col("f_stop").alias("fail"),
            (F.col("f_stop") & ~F.col("f_len") & ~F.col("f_div")).alias(
                "uniq"
            ),
        ),
    )
    ex = fl.select("n_tokens", F.explode(rules).alias("r"))
    return ex.groupBy(F.col("r.rule").alias("rule")).agg(
        F.sum(F.when(F.col("r.fail"), 1).otherwise(0))
        .cast("long")
        .alias("n_fail"),
        F.sum(F.when(F.col("r.uniq"), 1).otherwise(0))
        .cast("long")
        .alias("n_unique_fail"),
        F.sum(F.when(F.col("r.fail"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("n_tokens_fail"),
    )


@register(
    "eval_set_builder",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, text, str_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id, lang, text, toks,
         len(toks) AS n_toks,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','is','in'], x))) AS n_stop
  FROM t
), gated AS (
  SELECT doc_id, lang, text, toks, n_toks FROM m
  WHERE n_toks BETWEEN 20 AND 5000
    AND CAST(n_unique AS DOUBLE) / n_toks >= 0.2
    AND (lang <> 'en' OR CAST(n_stop AS DOUBLE) / n_toks >= 0.02)
), deduped AS (
  SELECT doc_id, lang, toks, n_toks FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), ranked AS (
  SELECT doc_id, lang, toks, n_toks,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM deduped
), split AS (
  SELECT doc_id, lang, toks, n_toks,
         CASE WHEN rn * 10 <= n * 8 THEN 'train'
              WHEN rn * 10 <= n * 9 THEN 'val'
              ELSE 'test' END AS split
  FROM ranked
), grams AS (
  SELECT doc_id, split,
         unnest(list_distinct([md5(array_to_string(toks[i:i+7], ' '))
                for i in range(1, len(toks) - 6)])) AS h
  FROM split WHERE split <> 'val' AND len(toks) >= 8
), common AS (
  SELECT h FROM grams WHERE split = 'train'
  GROUP BY h HAVING count(*) <= 100
), contaminated AS (
  SELECT DISTINCT te.doc_id
  FROM (SELECT * FROM grams WHERE split = 'test') te
  JOIN common USING (h)
  JOIN (SELECT * FROM grams WHERE split = 'train') tr ON te.h = tr.h
  GROUP BY te.doc_id, tr.doc_id
  HAVING count(*) >= 3
), eval_kept AS (
  SELECT s.doc_id, s.lang, s.n_toks
  FROM split s ANTI JOIN contaminated c ON s.doc_id = c.doc_id
  WHERE s.split = 'test'
), packs AS (
  SELECT lang, n_toks,
         (sum(n_toks) OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS UNBOUNDED PRECEDING) - n_toks) // 512 AS pack_id
  FROM eval_kept
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(round(CAST(CAST(sum(n_toks) AS DOUBLE)
                       / (count(DISTINCT pack_id) * 512)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS fill_rate
FROM packs GROUP BY lang
""",
    tags=("llm", "curation", "eval", "flagship"),
)
def eval_set_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-SET BUILDER flagship: quality gate -> exact dedup ->
    per-language STRATIFIED split -> decontaminate the eval slice
    against its own train slice -> pack eval docs into 512-token
    sequences, composed as ONE Spark plan — the companion flagship to
    ``prep_pipeline`` (which preps the TRAIN side); this builds the
    held-out set a multilingual benchmark actually ships.  Stage
    semantics are the registry's own: ``doc_quality_filter``'s gate,
    ``dedup_exact``'s md5 keep-min rule, ``dataset_split_stratified``'s
    all-integer per-language 80/10/10, ``contamination_check``'s
    suppressed-8-gram >=3 rule (applied as the REMOVAL it exists for),
    and ``seq_packing``'s integer-division pack ids.

    Per language out: eval docs kept, their token count, 512-token
    pack count, and fill rate — the size/balance report that decides
    whether the eval set is usable per language.

    Scale shape: every join is equi (md5 text hash, 8-gram hash,
    doc_id anti-join, broadcast-size lang key); the gram join
    fan-out is capped by the >100-train-doc suppression; the split
    rank AND the pack running-sum both run SKEW-SAFE through
    ``_lang_bucket_rank`` — (lang, md5-prefix bucket) partitions
    plus broadcast prefix-sum offsets, never one task per language —
    no crossJoin, no driver loop, no collect (plan-asserted in
    tests/test_plans.py).  All split/pack arithmetic is integer, so
    engine parity is exact; fill_rate rounds through DECIMAL."""
    docs = load_table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(w) for w in
                      ("the", "a", "of", "and", "to", "is", "in")])
    toks = F.split("text", " ", -1)
    m = docs.select(
        "doc_id",
        "lang",
        "text",
        F.explode(F.array(toks)).alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "text",
        "toks",
        F.size("toks").cast("long").alias("n_toks"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique"),
        F.size(F.filter("toks", lambda x: F.array_contains(stops, x)))
        .cast("long")
        .alias("n_stop"),
    )
    gated = m.filter(
        F.col("n_toks").between(20, 5000)
        & (F.col("n_unique").cast("double") / F.col("n_toks") >= 0.2)
        & (
            (F.col("lang") != "en")
            | (F.col("n_stop").cast("double") / F.col("n_toks") >= 0.02)
        )
    )
    wd = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        "doc_id"
    )
    deduped = (
        gated.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "toks", "n_toks")
    )
    # The ranked split assignment feeds FOUR consumers (train grams
    # twice — suppression + the contamination join — test grams, and
    # the eval keep set), and each consumer otherwise re-executes the
    # whole gate -> window-dedup -> bucket-rank subtree: the unmateria-
    # lized plan scanned `documents` 32 times (plans/r13, before).
    # Two NARROW materializations bound that: the exploded 8-gram
    # table (16-byte hashes — feeds all three gram consumers) and the
    # slim doc roster (no toks column — feeds the eval keep set).
    # Checkpointing `split` itself was measured 3x WORSE at sf0.1:
    # it caches the fat toks arrays for every consumer, where the
    # lazy branches had column-pruned them away.
    split = _lang_bucket_rank(deduped).select(
        "doc_id",
        "lang",
        "toks",
        "n_toks",
        F.when(F.col("rn") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rn") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
        .alias("split"),
    )
    slim_lazy = split.select("doc_id", "lang", "n_toks", "split")
    # 16-byte BINARY gram keys — internal only (h never reaches an
    # output column), the contamination family's r12 lesson.
    grams8 = F.when(
        F.size("toks") >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 7),
                lambda i: F.unhex(
                    F.md5(
                        F.array_join(F.slice("toks", i, 8), " ").cast(
                            "binary"
                        )
                    )
                ),
            )
        ),
    ).otherwise(F.array().cast("array<binary>"))
    grams_lazy = split.filter(F.col("split") != "val").select(
        "doc_id", "split", F.explode(grams8).alias("h")
    )
    # The two narrow materializations are INDEPENDENT projections of
    # the (lazy) split subtree, so they build concurrently
    # (guide §2.6; concurrency.eager_all) instead of paying two
    # sequential gate→dedup→rank executions back to back.
    from distributed_system_spark.concurrency import eager_all

    slim, grams = eager_all(
        spark,
        slim_lazy.localCheckpoint,
        grams_lazy.localCheckpoint,
    )
    train_g = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "h"
    )
    test_g = grams.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "h"
    )
    common = (
        train_g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_train"))
        .filter(F.col("n_train") <= 100)
        .select("h")
    )
    contaminated = (
        test_g.join(common, "h")
        .join(train_g, "h")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select(F.col("test_doc").alias("doc_id"))
        .distinct()
    )
    # eval_kept stays LAZY: its two consumers (the pack-id bucket
    # rank's local window + offset agg) re-run only the contamination
    # aggregate over the CACHED gram table plus the slim roster scan —
    # cheap — and the final plan keeps the LeftAnti anti-join visible
    # for the plan contract (tests/test_plans.py).
    eval_kept = (
        slim.filter(F.col("split") == "test")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_toks")
    )
    packs = _lang_bucket_rank(eval_kept, cum_col="n_toks").withColumn(
        "pack_id", F.expr("(cum - n_toks) div 512")
    )
    return packs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.countDistinct("pack_id").cast("long").alias("n_packs"),
        F.round(
            (
                F.sum("n_toks").cast("double")
                / (F.countDistinct("pack_id") * 512)
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("fill_rate"),
    )


@register(
    "dataset_epoch_plan",
    oracle="""
WITH c AS (
  SELECT source,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         round(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(26,12)),
               12) AS wr
  FROM c
),
tot AS (SELECT SUM(CAST(wr AS DECIMAL(38,12))) AS sw FROM w),
r AS (
  SELECT source, n_tokens,
         CAST(wr AS DOUBLE) / CAST(sw AS DOUBLE) AS share,
         least(4.0,
               (CAST(wr AS DOUBLE) / CAST(sw AS DOUBLE)) * 100000.0
                 / CAST(n_tokens AS DOUBLE)) AS epochs
  FROM w CROSS JOIN tot
)
SELECT source, n_tokens,
       CAST(round(CAST(share AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS target_share,
       CAST(round(CAST(epochs AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS epochs,
       CAST(round(CAST(epochs * CAST(n_tokens AS DOUBLE)
                  AS DECIMAL(28,6)), 0) AS BIGINT) AS effective_tokens
FROM r
""",
    tags=("llm", "mixing", "planning"),
)
def dataset_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH/REPEAT planning for dataset mixing — the table a
    pretraining run derives before it touches any data: per source,
    the alpha=0.5 temperature-scaled target share (the
    dataset_alpha_mix scheme, here over TOKEN counts), the repeat
    factor (epochs) that hits that share within a 100k-token budget,
    and the effective token contribution — with epochs CAPPED at 4,
    the empirical repeat ceiling from the data-constrained-scaling
    literature (past ~4 epochs repeated tokens stop helping).  A
    source whose cap binds under-fills its share; the table makes
    that visible before training, which is the point.

    Engine parity: sqrt is IEEE-correctly-rounded, the sqrt weights
    round through DECIMAL(26,12) and sum as DECIMAL(38,12) — wide
    enough that a 10^15-token source (the 100 TB story) is ~14 orders
    below the overflow point, where the previous DECIMAL(18,12)
    overflowed at 10^12 tokens with divergent engine behavior
    (DuckDB raises, non-ANSI Spark nulls; ADVICE r8) — and every
    subsequent double op is the same
    expression in the same order in both engines; final columns
    round through DECIMAL.  Scale: ONE corpus scan into a
    |sources|-row aggregate — the plan itself costs nothing."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ", -1)))
        .cast("long")
        .alias("n_tokens")
    )
    w = c.select(
        "source",
        "n_tokens",
        F.round(
            F.sqrt(F.col("n_tokens").cast("double")).cast(
                "decimal(26,12)"
            ),
            12,
        ).alias("wr"),
    )
    tot = w.agg(F.sum(F.col("wr").cast("decimal(38,12)")).alias("sw"))
    share = F.col("wr").cast("double") / F.col("sw").cast("double")
    epochs = F.least(
        F.lit(4.0),
        share * F.lit(100000.0) / F.col("n_tokens").cast("double"),
    )
    r = w.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", share.alias("share"), epochs.alias("epochs")
    )
    return r.select(
        "source",
        "n_tokens",
        F.round(F.col("share").cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("target_share"),
        F.round(F.col("epochs").cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("epochs"),
        F.round(
            (F.col("epochs") * F.col("n_tokens").cast("double")).cast(
                "decimal(28,6)"
            ),
            0,
        )
        .cast("long")
        .alias("effective_tokens"),
    )


_PII_ORACLE = """
WITH ccd AS (
  SELECT doc_id, i,
         (strpos('0123456789abcdef',
                 substr(md5('cc:' || CAST(doc_id AS VARCHAR)),
                        CAST(i AS INT), 1)) - 1) % 10 AS d
  FROM documents CROSS JOIN (SELECT unnest(range(1, 16)) AS i) s
),
cc AS (
  SELECT doc_id,
         string_agg(CAST(d AS VARCHAR), '' ORDER BY i) AS c15,
         SUM(CASE WHEN i % 2 = 1
                  THEN CASE WHEN 2*d > 9 THEN 2*d - 9 ELSE 2*d END
                  ELSE d END) AS part
  FROM ccd GROUP BY doc_id
),
ibd AS (
  SELECT doc_id, i,
         (strpos('0123456789abcdef',
                 substr(md5('ib:' || CAST(doc_id AS VARCHAR)),
                        CAST(i AS INT), 1)) - 1) % 10 AS d
  FROM documents CROSS JOIN (SELECT unnest(range(1, 19)) AS i) s
),
ib AS (
  SELECT doc_id, string_agg(CAST(d AS VARCHAR), '' ORDER BY i) AS b18
  FROM ibd GROUP BY doc_id
),
gen AS (
  SELECT d.doc_id, d.text,
         cc.c15 || CAST(CASE WHEN d.doc_id % 2 = 0
                             THEN (10 - cc.part % 10) % 10
                             ELSE ((10 - cc.part % 10) % 10 + 5) % 10
                        END AS VARCHAR) AS ccn,
         98 - (CAST(CAST(CAST(substr(ib.b18 || '131400', 1, 12) AS BIGINT)
                         % 97 AS VARCHAR)
                    || substr(ib.b18 || '131400', 13, 12) AS BIGINT) % 97)
           AS chk0,
         ib.b18 AS b18
  FROM documents d
  JOIN cc ON cc.doc_id = d.doc_id
  JOIN ib ON ib.doc_id = d.doc_id
),
planted AS (
  SELECT doc_id, ccn,
         'DE' || lpad(CAST(CASE WHEN doc_id % 3 = 0 THEN chk0
                                ELSE chk0 + 1 END AS VARCHAR), 2, '0')
              || b18 AS iban,
         text || ' ' || ccn
              || ' DE' || lpad(CAST(CASE WHEN doc_id % 3 = 0 THEN chk0
                                         ELSE chk0 + 1 END AS VARCHAR),
                               2, '0') || b18 AS ctext
  FROM gen
)
SELECT doc_id,
       CAST(len(list_filter(str_split(ctext, ' '),
                            x -> regexp_matches(x, '^[0-9]{16}$')))
            AS INT) AS n_cc,
       doc_id % 2 = 0 AS cc_valid,
       CASE WHEN doc_id % 2 = 0
            THEN 'XXXXXXXXXXXX' || substr(ccn, 13, 4)
            ELSE ccn END AS cc_masked,
       CAST(len(list_filter(str_split(ctext, ' '),
                            x -> regexp_matches(x, '^DE[0-9]{20}$')))
            AS INT) AS n_iban,
       doc_id % 3 = 0 AS iban_valid,
       CASE WHEN doc_id % 3 = 0
            THEN 'DE****************' || substr(iban, 19, 4)
            ELSE iban END AS iban_masked
FROM planted
"""


def luhn_valid_expr(col: str) -> "F.Column":
    """Boolean Column: does the 16-digit token in string column
    ``col`` pass the Luhn checksum?  A pure SQL fold (double every
    second digit from the right, subtract 9 past 9, total % 10 = 0)
    — shared by ``pii_checksum_mask`` and the hypothesis model test."""
    d = f"(ascii(substring({col},i,1))-48)"
    return F.expr(
        f"aggregate(sequence(1,16), cast(0 as bigint), (a, i) -> a + "
        f"CASE WHEN i % 2 = 1 THEN IF(2*{d} > 9, 2*{d} - 9, 2*{d}) "
        f"ELSE {d} END) % 10 = 0"
    )


def iban_mod97_valid_expr(col: str) -> "F.Column":
    """Boolean Column: does the DE-format IBAN in string column
    ``col`` (DE + 2 check digits + 18-digit BBAN) satisfy ISO-7064
    mod-97 = 1?  The 24-digit rearranged number runs as two chunked
    BIGINT mods (exact: r*10^12 + rest fits a BIGINT)."""
    sdet = (
        f"concat(substring({col}, 5, 18), '1314', substring({col}, 3, 2))"
    )
    return F.expr(
        f"cast(concat(cast(cast(substring({sdet}, 1, 12) as bigint) "
        f"% 97 as string), substring({sdet}, 13, 12)) as bigint) "
        f"% 97 = 1"
    )


@register(
    "pii_checksum_mask",
    oracle=_PII_ORACLE,
    tags=("text", "pii", "checksum", "llm", "curation"),
)
def pii_checksum_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-identifier PII with CHECKSUM validation — the
    curation pass ``redact_pii``'s regexes cannot express: a 16-digit
    token is masked only if it Luhn-verifies (otherwise it is an
    order number, not a card), and a DE-format IBAN only if its
    ISO-7064 mod-97 remainder is 1.  Both validators are all-integer
    and fully SQL-expressible: Luhn is a 16-term fold (double every
    second digit from the right, subtract 9 past 9, total % 10 = 0);
    mod-97 of the 24-digit rearranged IBAN runs as two chunked BIGINT
    mods (first 12 digits, then remainder-prefix + last 12 — exact
    because r*10^12 + rest fits a BIGINT).

    Planted with the _ctrl_corpus discipline: every doc gets one
    deterministic md5-derived card number (Luhn-VALID iff doc_id
    even — the invalid plants get check+5 mod 10, guaranteed to
    break the checksum) and one DE IBAN (mod-97-valid iff doc_id % 3
    = 0; invalid plants get check+1, shifting the remainder to 2), so
    precision against checksum-failing lookalikes is measured, not
    assumed.  The oracle regenerates the plants and asserts the
    BY-CONSTRUCTION truth; the Spark side detects tokens from the
    text and validates the checksums it finds — any detector or
    validator bug hash-mismatches.

    At 100 TB: one scan, zero shuffles (plan-asserted) — token
    filter, fold, and masking are all whole-stage-codegen
    expressions; the only Exchange ever present is widen_if_narrow's
    RoundRobin on single-row-group test files."""
    docs = widen_if_narrow(load_table(spark, sf_dir, "documents"))
    hexd = (
        "(instr('0123456789abcdef', substring(md5(cast(concat('%s:', "
        "cast(doc_id as string)) as binary)), i, 1)) - 1) %% 10"
    )
    gen = (
        docs.select("doc_id", "text")
        .withColumn(
            "ccd", F.expr("transform(sequence(1,15), i -> " + hexd % "cc" + ")")
        )
        .withColumn(
            "ibd", F.expr("transform(sequence(1,18), i -> " + hexd % "ib" + ")")
        )
        .withColumn(
            "cc_part",
            F.expr(
                "aggregate(sequence(1,15), cast(0 as bigint), (a, i) -> a + "
                "CASE WHEN i % 2 = 1 THEN IF(2*element_at(ccd,i) > 9, "
                "2*element_at(ccd,i) - 9, 2*element_at(ccd,i)) "
                "ELSE element_at(ccd,i) END)"
            ),
        )
        .withColumn(
            "ccn",
            F.expr(
                "concat(array_join(transform(ccd, d -> cast(d as string)), "
                "''), cast(CASE WHEN doc_id % 2 = 0 "
                "THEN (10 - cc_part % 10) % 10 "
                "ELSE ((10 - cc_part % 10) % 10 + 5) % 10 END as string))"
            ),
        )
        .withColumn(
            "b18",
            F.expr("array_join(transform(ibd, d -> cast(d as string)), '')"),
        )
        .withColumn(
            "chk0",
            F.expr(
                "98 - (cast(concat(cast(cast(substring(concat(b18, "
                "'131400'), 1, 12) as bigint) % 97 as string), "
                "substring(concat(b18, '131400'), 13, 12)) as bigint) % 97)"
            ),
        )
        .withColumn(
            "ctext",
            F.expr(
                "concat(text, ' ', ccn, ' DE', lpad(cast(CASE WHEN "
                "doc_id % 3 = 0 THEN chk0 ELSE chk0 + 1 END as string), "
                "2, '0'), b18)"
            ),
        )
        .select("doc_id", "ctext")
    )
    det = (
        gen.withColumn(
            "cc_toks",
            F.expr(r"filter(split(ctext, ' ', -1), x -> x rlike '^[0-9]{16}$')"),
        )
        .withColumn(
            "ib_toks",
            F.expr(
                r"filter(split(ctext, ' ', -1), x -> x rlike '^DE[0-9]{20}$')"
            ),
        )
        .withColumn("cc_tok", F.expr("element_at(cc_toks, 1)"))
        .withColumn("ib_tok", F.expr("element_at(ib_toks, 1)"))
        .withColumn("cc_valid", luhn_valid_expr("cc_tok"))
        .withColumn("iban_valid", iban_mod97_valid_expr("ib_tok"))
    )
    return det.select(
        "doc_id",
        F.size("cc_toks").cast("int").alias("n_cc"),
        "cc_valid",
        F.expr(
            "CASE WHEN cc_valid THEN concat('XXXXXXXXXXXX', "
            "substring(cc_tok, 13, 4)) ELSE cc_tok END"
        ).alias("cc_masked"),
        F.size("ib_toks").cast("int").alias("n_iban"),
        "iban_valid",
        F.expr(
            "CASE WHEN iban_valid THEN concat('DE****************', "
            "substring(ib_tok, 19, 4)) ELSE ib_tok END"
        ).alias("iban_masked"),
    )


_MARKUP_ORACLE = """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         '<h1>' || array_to_string(
           [CASE WHEN (i - 1) % 13 = 0
                 THEN '<b>' || toks[CAST(i AS INT)] || '</b>'
                 ELSE toks[CAST(i AS INT)] END
            for i in range(1, len(toks) + 1)], ' ')
         || '</h1> <p>Q&amp;A &lt;ok&gt; &amp;lt;raw</p>' AS mtext
  FROM t
),
stripped AS (
  SELECT doc_id, mtext,
         CAST(len(regexp_extract_all(mtext, '<[^>]*>')) AS BIGINT)
           AS n_tags,
         CAST(len(regexp_extract_all(mtext, '&(amp|lt|gt|quot|#39);'))
           AS BIGINT) AS n_entities,
         trim(regexp_replace(mtext, '<[^>]*>', '', 'g')) AS no_tags
  FROM m
)
SELECT doc_id,
       replace(replace(replace(replace(replace(no_tags,
         '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''),
         '&amp;', '&') AS clean_text,
       n_tags, n_entities
FROM stripped
"""


@register(
    "text_strip_markup",
    oracle=_MARKUP_ORACLE,
    tags=("text", "extraction", "llm", "curation"),
)
def text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping + HTML-entity decoding — the EXTRACTION stage
    every web-scrape pipeline runs before any text curation (the
    trafilatura/jusText step, reduced to its deterministic core):
    remove tags, decode the five standard entities, report how much
    markup was removed (the density signal boilerplate classifiers
    consume).  Entity decode order matters and is part of the
    contract: ``&amp;`` decodes LAST so a literal ``&amp;lt;`` in the
    source cannot double-decode into ``<`` — the classic
    entity-injection bug: the plant includes a literal ``&amp;lt;``,
    which must decode to ``&lt;`` (one pass), never ``<`` — so the
    oracle hash pins the order.

    Planted with the ctrl discipline: both engines wrap the corpus
    deterministically (an ``<h1>`` envelope, every 13th token bolded,
    a trailing ``<p>`` with ``&amp;``/``&lt;``/``&gt;`` entities), so
    tag density and entity counts are known by construction and the
    stripper's output is hash-checked against independent
    construction + stripping in DuckDB.

    At 100 TB: one scan, zero shuffles — two regexp passes and a
    replace chain, all whole-stage codegen (the per-token-regex
    lesson does not apply: the regex runs per DOCUMENT)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ", -1)
    mtext = F.concat(
        F.lit("<h1>"),
        F.array_join(
            F.expr(
                "transform(split(text, ' ', -1), (t, i) -> "
                "CASE WHEN i % 13 = 0 THEN concat('<b>', t, '</b>') "
                "ELSE t END)"
            ),
            " ",
        ),
        F.lit("</h1> <p>Q&amp;A &lt;ok&gt; &amp;lt;raw</p>"),
    )
    m = docs.select("doc_id", mtext.alias("mtext"))
    no_tags = F.trim(F.regexp_replace("mtext", "<[^>]*>", ""))
    clean = F.replace(
        F.replace(
            F.replace(
                F.replace(
                    F.replace(no_tags, F.lit("&lt;"), F.lit("<")),
                    F.lit("&gt;"),
                    F.lit(">"),
                ),
                F.lit("&quot;"),
                F.lit('"'),
            ),
            F.lit("&#39;"),
            F.lit("'"),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    return m.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(F.expr(r"regexp_extract_all(mtext, '<[^>]*>', 0)"))
        .cast("long")
        .alias("n_tags"),
        F.size(
            F.expr(r"regexp_extract_all(mtext, '&(amp|lt|gt|quot|#39);', 0)")
        )
        .cast("long")
        .alias("n_entities"),
    )


@register(
    "aug_word_dropout",
    oracle="""
SELECT doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(str_split(text, ' '),
                (t, i) -> substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 1)
                          <> '0')) AS BIGINT) AS n_kept,
       array_to_string(
         list_filter(str_split(text, ' '),
                (t, i) -> substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 1)
                          <> '0'),
         ' ') AS aug_text
FROM documents
""",
    tags=("text", "augmentation", "training-prep"),
)
def aug_word_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic word-dropout augmentation: token at position i is
    dropped iff the first md5 hex digit of "<doc_id>:<i>" is '0' — a
    reproducible 1/16 dropout whose mask is a pure function of
    (doc_id, position), so re-running the pipeline (or re-deriving an
    augmented shard on another cluster) regenerates byte-identical
    augmented text with no stored mask table.  The augmentation face
    of the md5-bucket discipline dataset_split/dataset_kfold use for
    membership.

    Scale shape: a pure per-row projection — the dropout decision is a
    higher-order array filter over the already-split token array, so
    the whole query is ONE scan with zero exchanges (plan-asserted),
    exactly what an augmentation pass must be at 100 TB.  Spark's
    lambda index is 0-based and DuckDB's is 1-based; the Spark side
    hashes i+1 so both engines drop the same positions."""
    docs = load_table(spark, sf_dir, "documents")
    kept = F.expr(
        "filter(split(text, ' ', -1), (t, i) -> "
        "substring(md5(cast(concat(cast(doc_id as string), ':', "
        "cast(i + 1 as string)) as binary)), 1, 1) != '0')"
    )
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.concat_ws(" ", kept).alias("aug_text"),
    )


@register(
    "dataset_dsir_select",
    oracle="""
WITH tb AS (
  SELECT doc_id, lang,
         CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
              AS BIGINT) AS b
  FROM (SELECT doc_id, lang, md5(unnest(str_split(text, ' '))) AS h
        FROM documents)
),
bc AS (
  SELECT b, count(*) AS r_n,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_n
  FROM tb GROUP BY b
),
tot AS (SELECT sum(r_n) AS r_tot, sum(t_n) AS t_tot FROM bc),
w AS (
  SELECT b,
         round(CAST(ln(CAST(t_n + 1 AS DOUBLE) / (t_tot + 256))
                    AS DECIMAL(18,12)), 12)
         - round(CAST(ln(CAST(r_n + 1 AS DOUBLE) / (r_tot + 256))
                    AS DECIMAL(18,12)), 12) AS wb
  FROM bc CROSS JOIN tot
),
dw AS (
  SELECT tb.doc_id, CAST(sum(w.wb) AS DECIMAL(38,12)) AS w_raw
  FROM tb JOIN w USING (b) GROUP BY tb.doc_id
)
SELECT doc_id, CAST(round(w_raw, 6) AS DOUBLE) AS dsir_w
FROM dw ORDER BY w_raw DESC, doc_id LIMIT 100
""",
    tags=("text", "training-prep", "data-selection"),
)
def dataset_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (importance resampling with hashed
    n-gram features, Xie et al. 2023): score every raw document by how
    much more likely its tokens are under the TARGET domain's hashed
    unigram distribution (here lang='en') than under the raw pool's,
    then keep the top-k.  Features are 256 md5 buckets (first two hex
    digits); per-bucket importance is the Laplace-smoothed log-ratio
    ln((t_b+1)/(T+256)) - ln((r_b+1)/(R+256)); a doc's weight sums its
    token occurrences' bucket weights.

    Scale shape: ONE token scan feeds a 256-row bucket-count aggregate
    (map-side combined), the weight table is bucket-count-bounded and
    BROADCAST back onto the token stream, and the per-doc sum is one
    keyed aggregate — never a vocabulary-sized shuffle (tokens travel
    as 2-byte bucket ids, not strings).  The top-k is TakeOrdered.
    ln parity: each ln is rounded to 12 while DECIMAL (the zipf
    convention), summed exactly in DECIMAL(38,12), final round to 6 —
    deterministic tiebreak on (w_raw, doc_id) pins the LIMIT boundary.
    """
    hexs = "0123456789abcdef"
    docs = load_table(spark, sf_dir, "documents")
    tb = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ", -1)).alias("tok"),
        )
        .select(
            "doc_id", "lang", F.md5(F.col("tok").cast("binary")).alias("h")
        )
        .select(
            "doc_id",
            "lang",
            (
                (F.instr(F.lit(hexs), F.substring("h", 1, 1)) - 1).cast(
                    "long"
                )
                * 16
                + (F.instr(F.lit(hexs), F.substring("h", 2, 1)) - 1).cast(
                    "long"
                )
            ).alias("b"),
        )
    )
    bc = tb.groupBy("b").agg(
        F.count(F.lit(1)).alias("r_n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("t_n"),
    )
    tot = bc.agg(
        F.sum("r_n").alias("r_tot"), F.sum("t_n").alias("t_tot")
    )

    def lnw(n, t):
        return F.round(
            F.log(
                (F.col(n) + 1).cast("double")
                / (F.col(t) + 256).cast("double")
            ).cast("decimal(18,12)"),
            12,
        )

    w = bc.crossJoin(F.broadcast(tot)).select(
        "b", (lnw("t_n", "t_tot") - lnw("r_n", "r_tot")).alias("wb")
    )
    dw = (
        tb.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.sum("wb").cast("decimal(38,12)").alias("w_raw"))
    )
    return (
        dw.orderBy(F.col("w_raw").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id", F.round("w_raw", 6).cast("double").alias("dsir_w")
        )
    )


_TLD_SQL = (
    "CASE CAST((strpos('0123456789abcdef', substr(m, 3, 1)) - 1) % 4 "
    "AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net' "
    "ELSE 'io' END"
)

_BLOCK_RULES = ("d0.com", "d7.io", "w3.d1.net", "da.org")


@register(
    "domain_blocklist_filter",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents
),
hosts AS (
  SELECT doc_id,
         'w' || substr(m, 1, 1) || '.d' || substr(m, 2, 1) || '.'
           || {_TLD_SQL} AS host,
         'd' || substr(m, 2, 1) || '.' || {_TLD_SQL} AS domtld,
         {_TLD_SQL} AS tld
  FROM h
),
rules AS (SELECT * FROM (VALUES {", ".join(f"('{r}')" for r in _BLOCK_RULES)})
          AS t(rule)),
suf AS (
  SELECT doc_id, host AS s FROM hosts
  UNION ALL SELECT doc_id, domtld FROM hosts
  UNION ALL SELECT doc_id, tld FROM hosts
),
blocked AS (
  SELECT s.doc_id, r.rule FROM suf s JOIN rules r ON s.s = r.rule
),
per_rule AS (
  SELECT rule, count(*) AS n_docs,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM blocked GROUP BY rule
),
kept AS (
  SELECT '(kept)' AS rule, count(*) AS n_docs,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM hosts WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
)
SELECT * FROM per_rule UNION ALL SELECT * FROM kept
""",
    tags=("text", "curation", "blocklist"),
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain blocklist filtering with SUFFIX-wildcard
    semantics — the C4/RefinedWeb URL-blocklist pass: a rule blocks
    the exact host AND every subdomain under it ('d0.com' blocks
    'w5.d0.com').  Hosts are derived deterministically from
    md5(doc_id) (subdomain, domain, tld labels) since the synthetic
    corpus carries no URL column — the plumbing (suffix explosion +
    rule join) is the real operator.

    Scale shape: each host explodes into its <=3 dot-suffixes and
    EQUI-joins the rule table on the suffix string — the shape that
    survives a 100k-entry production blocklist, unlike an OR-chain of
    ends_with predicates recompiled per rule.  Here the rule side is
    broadcast; the kept count is one anti-join against distinct
    blocked ids.  Output: per-rule blocked doc counts + a '(kept)'
    row, min/max doc ids as the audit anchors."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.md5(F.col("doc_id").cast("string").cast("binary"))
    tld = F.expr(
        "CASE CAST((instr('0123456789abcdef', substr(m, 3, 1)) - 1) % 4 "
        "AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net' "
        "ELSE 'io' END"
    )
    hosts = docs.select("doc_id", m.alias("m")).select(
        "doc_id",
        F.concat(
            F.lit("w"),
            F.substring("m", 1, 1),
            F.lit(".d"),
            F.substring("m", 2, 1),
            F.lit("."),
            tld,
        ).alias("host"),
        F.concat(
            F.lit("d"), F.substring("m", 2, 1), F.lit("."), tld
        ).alias("domtld"),
        tld.alias("tld"),
    )
    rules = spark.createDataFrame(
        [(r,) for r in _BLOCK_RULES], "rule string"
    )
    suf = hosts.select(
        "doc_id", F.explode(F.array("host", "domtld", "tld")).alias("s")
    )
    blocked = suf.join(F.broadcast(rules), suf["s"] == rules["rule"])
    per_rule = blocked.groupBy("rule").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    kept = (
        hosts.join(
            blocked.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(F.lit("(kept)").alias("rule"), "n_docs", "min_doc", "max_doc")
    )
    return per_rule.unionByName(kept)


@register(
    "dataset_curriculum_phases",
    oracle="""
WITH d AS (
  SELECT doc_id,
         len(str_split(text, ' ')) AS n_toks,
         (100 * (length(text) - len(str_split(text, ' ')) + 1))
           // len(str_split(text, ' ')) AS score
  FROM documents
),
vals AS (
  SELECT score, count(*) AS n, sum(n_toks) AS toks
  FROM d GROUP BY score
),
cum AS (
  SELECT score, n, toks,
         sum(n) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c,
         sum(n) OVER () AS t
  FROM vals
)
SELECT CAST(1 + ((c - 1) * 3) // t AS BIGINT) AS phase,
       CAST(sum(n) AS BIGINT) AS n_docs,
       count(*) AS n_values,
       min(score) AS min_score, max(score) AS max_score,
       CAST(sum(toks) AS BIGINT) AS token_sum
FROM cum GROUP BY 1
""",
    tags=("text", "training-prep", "curriculum"),
)
def dataset_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: documents ordered
    easy→hard by a difficulty proxy (mean token length in integer
    centi-chars — longer words, harder text) and cut into three
    training phases at exact document-count thirds.  All docs sharing
    a score value share a phase (the cut lands between values), so
    assignment is reproducible with no per-document tiebreak.

    Scale shape: the score is a pure per-row projection; the corpus
    then REDUCES to a value-cardinality-bounded (score, count, tokens)
    table — mean-token-length values are a few hundred distinct —
    and the phase thresholds are one running sum over that tiny table
    (the quantile_normalize_sources discipline: never a global
    per-document window).  Integer arithmetic end to end:
    phase = 1 + 3*(cum-1) div total."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " ", -1))
    d = docs.select(
        "doc_id",
        n_toks.alias("n_toks"),
        F.expr(
            "(100 * (length(text) - size(split(text, ' ', -1)) + 1)) "
            "div size(split(text, ' ', -1))"
        ).alias("score"),
    )
    vals = d.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_toks").alias("toks")
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = vals.agg(F.sum("n").alias("t"))
    cum = vals.withColumn("c", F.sum("n").over(w)).crossJoin(
        F.broadcast(tot)
    )
    phased = cum.select(
        (1 + F.expr("((c - 1) * 3) div t")).cast("long").alias("phase"),
        "n",
        "toks",
        "score",
    )
    return phased.groupBy("phase").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_values"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        F.sum("toks").cast("long").alias("token_sum"),
    )


@register(
    "dataset_mix_temperature",
    oracle="""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT *, CAST(sum(n_tokens) OVER () AS DOUBLE) AS N FROM s),
w AS (SELECT *, CAST(sqrt(n_tokens / N) AS DECIMAL(18,12)) AS wd FROM t),
x AS (SELECT *, CAST(sum(wd) OVER () AS DOUBLE) AS S FROM w)
SELECT source, n_docs, n_tokens,
       round(n_tokens / N, 6) AS nat_share,
       round(CAST(wd AS DOUBLE) / S, 6) AS temp_share,
       round((CAST(wd AS DOUBLE) / S) / (n_tokens / N), 6) AS epoch_mult
FROM x
""",
    tags=("llm", "sampling", "mixing", "temperature"),
)
def dataset_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled source mixing (the multilingual-sampling
    rule: p_i ∝ (n_i/N)^α) at α = 0.5 — sqrt sampling, the classic
    high-resource-flattening exponent.  Per source: natural token
    share, temperature share, and the epoch multiplier (how many
    epochs of that source one pass of the mixture consumes — the
    number a training-data order actually needs).

    α = 0.5 on purpose: IEEE-754 requires sqrt be correctly rounded,
    so the weights are BIT-IDENTICAL in any engine — a pow(x, 0.3)
    would differ in the last ulp between libm implementations and is
    exactly the class of cross-engine drift the oracle contract
    forbids.  The weight normalizer folds through DECIMAL(18,12)
    (order-insensitive sum, the _util discipline).

    Scale shape: one scan into a per-source partial-agg groupBy
    (|sources| rows), then two tiny windows OVER THE AGGREGATE — the
    corpus never moves."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ", -1)))
        .cast("long")
        .alias("n_tokens"),
    )
    wall = Window.partitionBy()
    t = s.withColumn(
        "N", F.sum("n_tokens").over(wall).cast("double")
    )
    w = t.withColumn(
        "wd",
        F.sqrt(F.col("n_tokens") / F.col("N")).cast("decimal(18,12)"),
    )
    x = w.withColumn("S", F.sum("wd").over(wall).cast("double"))
    nat = F.col("n_tokens") / F.col("N")
    tmp = F.col("wd").cast("double") / F.col("S")
    return x.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(nat, 6).alias("nat_share"),
        F.round(tmp, 6).alias("temp_share"),
        F.round(tmp / nat, 6).alias("epoch_mult"),
    )


@register(
    "aug_span_corruption",
    oracle="""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks,
         len(str_split(text, ' ')) AS n
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(len([i for i in range(1, n + 1) if i % 7 = 4]) AS BIGINT)
         AS n_spans,
       array_to_string(
         [CASE WHEN i % 7 = 4
               THEN '<extra_id_' || CAST((i - 4) // 7 AS VARCHAR) || '>'
               ELSE toks[CAST(i AS INT)] END
          for i in range(1, n + 1) if i % 7 <> 5],
         ' ') AS corrupted_text,
       array_to_string(
         flatten([['<extra_id_' || CAST((i - 4) // 7 AS VARCHAR) || '>']
                  || toks[CAST(i AS INT):CAST(i + 1 AS INT)]
                  for i in range(1, n + 1) if i % 7 = 4]),
         ' ') AS targets_text
FROM t
""",
    tags=("text", "augmentation", "training-prep", "t5"),
)
def aug_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style SPAN CORRUPTION prep: 2-token spans at fixed
    period 7 (positions i ≡ 4, 5 mod 7, 1-based) are replaced by
    numbered sentinels in the corrupted text, and the targets string
    pairs each sentinel with the tokens it hides — the
    denoising-objective input/label pair, generated deterministically
    so any engine (and any re-run) derives byte-identical training
    examples with no stored mask (the ``aug_word_dropout``
    discipline, lifted from token masks to spans).

    Scale shape: pure per-row higher-order array expressions over the
    projected token array — ONE scan, zero exchanges, the mandatory
    shape for an augmentation pass at 100 TB.  Spark's lambda index
    is its element value here (we iterate an explicit 1-based
    sequence), so both engines mask identical positions; slice()/
    list-slicing clip identically at the document tail."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split("text", " ", -1).alias("toks"),
        F.size(F.split("text", " ", -1)).alias("n"),
    )
    corrupted = F.expr(
        "filter(transform(sequence(1, n), i -> "
        "CASE WHEN i % 7 = 5 THEN CAST(NULL AS STRING) "
        "WHEN i % 7 = 4 THEN concat('<extra_id_', "
        "cast((i - 4) div 7 as string), '>') "
        "ELSE element_at(toks, cast(i as int)) END), "
        "x -> x IS NOT NULL)"
    )
    targets = F.expr(
        "flatten(transform(filter(sequence(1, n), i -> i % 7 = 4), "
        "i -> concat(array(concat('<extra_id_', "
        "cast((i - 4) div 7 as string), '>')), "
        "slice(toks, cast(i as int), 2))))"
    )
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.size(
            F.expr("filter(sequence(1, n), i -> i % 7 = 4)")
        )
        .cast("long")
        .alias("n_spans"),
        F.concat_ws(" ", corrupted).alias("corrupted_text"),
        F.concat_ws(" ", targets).alias("targets_text"),
    )

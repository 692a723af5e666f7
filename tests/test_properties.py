"""Property-based tests (hypothesis) for the codec/tokenizer/decimal
layers — the reference has zero property testing (SURVEY.md §5 gaps);
these pin the invariants its golden tests only sample.

Spark jobs are slow per example, so each property batches the entire
generated list through ONE job and runs few examples.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distributed_system_spark.functions.kv import kv_decode, kv_encode
from distributed_system_spark.functions.wordcount import (
    sanitize_token,
    tokenize_line,
)
from distributed_system_spark.queries._util import dsum

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# key: no spaces or newlines (processor.cpp:27-37); value: no newlines
_KEY = st.text(
    st.characters(codec="ascii", exclude_characters=" \n\r"), min_size=1
)
_VALUE = st.text(st.characters(codec="ascii", exclude_characters="\n\r"))

_SEPS = " \t\r\x0b\f"
_LINE = st.text(
    st.sampled_from(list("abcXYZ0,!." + _SEPS)), max_size=40
)


def _model_tokenize(line: str) -> list[str]:
    """Pure-python mirror of wc_maple.cpp:28-44: every separator ends
    a token (empties included); the final token appended only if
    non-empty."""
    toks, cur = [], ""
    for ch in line:
        if ch in _SEPS:
            toks.append(cur)
            cur = ""
        else:
            cur += ch
    if cur:
        toks.append(cur)
    return toks


def _model_sanitize(tok: str) -> str:
    return "".join(c for c in tok if c.isascii() and c.isalnum())


@settings(**_SETTINGS)
@given(st.lists(st.tuples(_KEY, _VALUE), min_size=1, max_size=30))
def test_kv_roundtrip(spark, pairs):
    df = spark.createDataFrame(pairs, "k string, v string")
    out = df.select(
        "k", "v", kv_decode(kv_encode("k", "v")).alias("kv")
    ).collect()
    for r in out:
        assert r["kv"]["key"] == r["k"].split(" ", 1)[0] == r["k"]
        assert r["kv"]["value"] == r["v"]


@settings(**_SETTINGS)
@given(st.lists(_LINE, min_size=1, max_size=25))
def test_tokenizer_matches_reference_model(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    got = [
        r["t"]
        for r in df.select(tokenize_line("line").alias("t")).collect()
    ]
    assert got == [_model_tokenize(l) for l in lines]


@settings(**_SETTINGS)
@given(st.lists(_LINE, min_size=1, max_size=25))
def test_sanitize_matches_reference_model(spark, toks):
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = [r["s"] for r in df.select(sanitize_token("t").alias("s")).collect()]
    assert got == [_model_sanitize(t) for t in toks]


@settings(**_SETTINGS)
@given(
    st.lists(
        st.decimals(
            min_value=-99999, max_value=99999, places=2, allow_nan=False
        ),
        min_size=1,
        max_size=50,
    )
)
def test_dsum_is_partition_invariant(spark, vals):
    """The DECIMAL-accumulated sum must not depend on partitioning —
    the invariant that makes float aggregates oracle-checkable."""
    rows = [(float(v),) for v in vals]
    df = spark.createDataFrame(rows, "x double")
    one = df.repartition(1).agg(dsum("x").alias("s")).first()["s"]
    many = df.repartition(7).agg(dsum("x").alias("s")).first()["s"]
    assert one == many


@settings(**_SETTINGS)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=40))
def test_partitioners_preserve_rows(spark, keys):
    from distributed_system_spark.operators.maplejuice import (
        partition_by_hash,
        partition_by_range,
        partition_round_robin,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    want = sorted(r["k"] for r in df.collect())
    for part in (
        partition_round_robin(df, 4),
        partition_by_hash(df, 4, "k"),
        partition_by_range(df, 4, "k"),
    ):
        assert sorted(r["k"] for r in part.collect()) == want


@given(
    st.lists(
        st.text(st.characters(codec="utf-8"), max_size=40), max_size=30
    )
)
@settings(max_examples=200, deadline=None)
def test_escape_key_roundtrip_and_component_safety(keys):
    """sdfs.cpp convert/deconvert parity as a property: escaping any
    string yields a slash-free component, round-trips exactly, and is
    injective (two distinct keys never collide on a filename).  Pure
    python — no Spark job, so examples are cheap."""
    from distributed_system_spark.sources.store import (
        escape_key,
        unescape_key,
    )

    names = [escape_key(k) for k in keys]
    for k, n in zip(keys, names):
        assert "/" not in n
        assert unescape_key(n) == k
    assert len(set(names)) == len(set(keys))


@given(
    xs=st.lists(st.integers(min_value=0, max_value=1000), min_size=2, max_size=60)
)
@settings(**_SETTINGS)
def test_cusum_closed_form_matches_recursion(xs):
    """ts_changepoint_cusum computes S_t = max(0, S_(t-1) + x_t - mu - k)
    via the prefix-sum/running-min closed form at integer scale 10n.
    Pure-python check on arbitrary series: closed form == the literal
    recursion (both at scale 10n so no float enters either side)."""
    n = len(xs)
    total = sum(xs)
    # scaled increments: 10n*(x_t - mu - 0.1*mu) = 10n*x_t - 11*total
    inc = [10 * n * x - 11 * total for x in xs]
    # literal clamped recursion
    s, rec = 0, []
    for d in inc:
        s = max(0, s + d)
        rec.append(s)
    # closed form: T_t - min(0, min_{i<=t} T_i)
    t, mn, closed = 0, 0, []
    for d in inc:
        t += d
        mn = min(mn, t)
        closed.append(t - min(0, mn))
    assert rec == closed


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=1, max_size=8
        ).map(lambda cs: " ".join(cs)),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_length_filter_never_changes_jaccard_verify(spark, docs):
    """jaccard_verify's size-ratio length filter is a NECESSARY
    condition of J >= t (relaxed past the rounding band), so adding
    it must never change the verified pair set — checked against a
    filter-free reimplementation on arbitrary tiny corpora."""
    from distributed_system_spark.operators.dedup import (
        doc_tokens,
        jaccard_verify,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    toks = doc_tokens(df)
    ids = [(a, b) for a in range(len(docs)) for b in range(len(docs)) if a < b]
    pairs = spark.createDataFrame(ids, "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_verify(pairs, toks, 0.8).collect()
    }
    # filter-free reference: exact python set jaccard
    sets_ = {i: set(d.split(" ")) for i, d in enumerate(docs)}
    want = set()
    for a, b in ids:
        inter = len(sets_[a] & sets_[b])
        jac = round(inter / (len(sets_[a]) + len(sets_[b]) - inter), 6)
        if jac >= 0.8:
            want.add((a, b, jac))
    assert got == want


def test_psi_zero_for_identical_and_nonnegative(spark):
    """psi_from_bin_counts: identical cohorts => PSI == 0.0 exactly;
    shifted cohorts => strictly positive (divergence property)."""
    from distributed_system_spark.queries.drift_q import (
        psi_from_bin_counts,
    )

    same = spark.createDataFrame(
        [(i, 10 + i, 10 + i) for i in range(10)],
        "bin long, r_cnt long, c_cnt long",
    )
    r = psi_from_bin_counts(spark, same).select("psi_total").first()
    assert r.psi_total == 0.0

    shifted = spark.createDataFrame(
        [(i, 100 if i < 5 else 10, 10 if i < 5 else 100) for i in range(10)],
        "bin long, r_cnt long, c_cnt long",
    )
    r2 = psi_from_bin_counts(spark, shifted).select("psi_total").first()
    assert r2.psi_total > 0.1


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(st.sampled_from(list("abcde ")), min_size=0, max_size=24),
        min_size=2,
        max_size=8,
    )
)
def test_setdedup_verify_equals_plain(spark, docs):
    """jaccard_verify_setdedup must equal jaccard_verify on arbitrary
    tiny corpora under all-pairs candidates — including the edge
    cases content keying exists for (docs with literally identical
    token sets) and the ones that stress it (single-token docs,
    empty-string tokens from repeated separators)."""
    from distributed_system_spark.operators.dedup import (
        doc_tokens,
        jaccard_verify,
        jaccard_verify_setdedup,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    toks = doc_tokens(df)
    ids = [(a, b) for a in range(len(docs)) for b in range(len(docs)) if a < b]
    pairs = spark.createDataFrame(ids, "id_a long, id_b long")
    want = sorted(
        map(tuple, jaccard_verify(pairs, toks, 0.8).collect())
    )
    got = sorted(
        map(tuple, jaccard_verify_setdedup(pairs, toks, 0.8).collect())
    )
    assert got == want


def _luhn_model(tok: str) -> bool:
    total = 0
    for i, ch in enumerate(tok, start=1):  # left index, 16 digits
        d = ord(ch) - 48
        if i % 2 == 1:
            d = 2 * d
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def _iban_model(iban: str) -> bool:
    s = iban[4:22] + "1314" + iban[2:4]
    return int(s) % 97 == 1


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(st.sampled_from(list("0123456789")), min_size=16, max_size=16),
        min_size=1,
        max_size=24,
    )
)
def test_luhn_fold_matches_python_model(spark, toks):
    """The SQL Luhn fold (pii_checksum_mask's validator) must agree
    with a pure-Python Luhn on arbitrary 16-digit strings — one Spark
    job for the whole batch."""
    from distributed_system_spark.queries.text_q import luhn_valid_expr

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "i long, tok string"
    )
    got = {
        r.i: r.ok
        for r in df.select("i", luhn_valid_expr("tok").alias("ok")).collect()
    }
    assert got == {i: _luhn_model(t) for i, t in enumerate(toks)}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(st.sampled_from(list("0123456789")), min_size=20, max_size=20),
        min_size=1,
        max_size=24,
    )
)
def test_iban_mod97_matches_python_model(spark, bodies):
    """The chunked-BIGINT mod-97 (pii_checksum_mask's IBAN validator)
    must agree with Python big-int arithmetic on arbitrary DE-format
    IBANs (valid and invalid check digits alike)."""
    from distributed_system_spark.queries.text_q import (
        iban_mod97_valid_expr,
    )

    ibans = ["DE" + b for b in bodies]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ibans)], "i long, iban string"
    )
    got = {
        r.i: r.ok
        for r in df.select(
            "i", iban_mod97_valid_expr("iban").alias("ok")
        ).collect()
    }
    assert got == {i: _iban_model(t) for i, t in enumerate(ibans)}

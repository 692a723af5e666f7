"""Similarity-search queries over `embeddings` (LLM-pipeline surface):
brute-force cosine top-k, LSH-bucketed approximate top-k, and
cosine near-dup pairs. See operators/similarity.py for scale notes.

Oracle SQL mirrors the arithmetic exactly: doubles summed
sequentially (DuckDB list_transform/list_sum vs Spark zip_with/
aggregate fold), ordering on the rounded cosine with id tiebreaks.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from distributed_system_spark.operators.similarity import (
    _band_weight_arrays,
    banded_lsh_topk,
    brute_force_topk,
    ivf_topk,
    lsh_bucket_topk,
    lsh_neardup_pairs,
    norm,
    quantize_int8,
    vec_double,
)
from distributed_system_spark.queries import register
from distributed_system_spark.scratch import fresh_dir
from distributed_system_spark.sources.tables import (
    WIDEN_SLOT_BYTES_DENSE,
    load_table,
    widen_if_narrow,
)

_COS_SQL = """
round(list_sum(list_transform(range(1, 65), i -> q.vec[i] * c.vec[i]))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.vec[i] * q.vec[i])))
       * sqrt(list_sum(list_transform(range(1, 65), i -> c.vec[i] * c.vec[i])))),
      6)
"""

_SQL_SQDIST = (
    "round(list_sum(list_transform(range(1, 65), "
    "i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), 6)"
)

# Cell family (semdedup_pairs / hard_negative_mining /
# label_noise_knn): the corpus is partitioned into ~_TARGET_CELL-row
# cells by the SIGN PATTERN of `bits` md5-derived hyperplane
# projections, with bits = ceil(log2(max(8, n // _TARGET_CELL)))
# DERIVED FROM CORPUS SIZE, so expected cell size stays in
# [_TARGET_CELL/2, _TARGET_CELL] and the within-cell pair join grows
# ~n * _TARGET_CELL — LINEAR in n.  Two designs died before this one,
# both MEASURED (SCALE.md round-6 decade sections): k frozen at 8
# makes the PAIR stage ~n^2/8 (7.7x wall at the first 10x); k =
# n // 64 seed-centroid Voronoi cells fix the pairs but make the flat
# nearest-of-k ASSIGNMENT n*k*d — quadratic once k tracks n — which
# the third decade exposed at 37.9x wall for 10x data (4e10 flops at
# 200 k vectors).  Signature assignment is n * bits * d — linear up
# to the log factor — and is exactly the sign-LSH the ann_lsh_topk /
# embedding_neardup family already oracle-checks.  The FOURTH scale
# decade (2 M vectors, SCALE.md) exposed the residual flaw of a
# single-LEVEL signature: plane signs are correlated on clustered
# corpora, so a minority of cells collect several hundred rows and
# their c^2 pair cost compounds as bits grow (measured 16.0x wall for
# 10x data; 21% of the pair mass in the 446 cells above 256 rows) —
# hence the second-level split below.
_TARGET_CELL = 64
_MIN_CELL_BITS = 3

# Second-level split: coarse cells above _SPLIT_CAP rows are re-split
# by up to _EXTRA_BITS additional signature planes (integer threshold
# ladder — extra = #{j : cnt > _SPLIT_CAP * 2^j}), bounding the c²
# pair blow-up that correlated hyperplane signs cause on clustered
# corpora (measured: 21% of pair mass sat in 446 over-256-row cells
# at 2 M vectors before the split — SCALE.md fourth decade).
_SPLIT_CAP = 2 * _TARGET_CELL
_EXTRA_BITS = 8


def _cell_bits(n: int) -> int:
    """Signature width: ceil(log2(target cell count)), floored at
    _MIN_CELL_BITS (8 cells) so trivia corpora still exercise the
    grouped pair stage.  log2 of exact powers of two is exact in
    IEEE doubles, so the ceil decision matches DuckDB's at every
    boundary."""
    return max(
        _MIN_CELL_BITS, math.ceil(math.log2(max(8, n // _TARGET_CELL)))
    )


# DuckDB mirror: n is SQL-computable, so the oracle derives the SAME
# bit count, and the md5-derived hyperplane weights (first hex digit
# of md5("plane:dim") mapped to [-7.5, 7.5] — hyperplane_weight /
# _band_weight_arrays in operators/similarity.py) are engine-portable
# expressions, not data.  list_sum(list_transform(..)) folds the
# projection left-to-right over dims — the same IEEE order as the
# per-dimension numpy accumulation below — so the sign decision is
# bit-identical in both engines.  The nb width rule, the extra-plane
# count, and the cg threshold ladder are all INTERPOLATED from the
# same Python constants (_MIN_CELL_BITS/_TARGET_CELL/_SPLIT_CAP/
# _EXTRA_BITS) that drive the Spark side — one constant, two engines;
# editing a constant can never desynchronize the oracles.
_SPLIT_LADDER_SQL = "\n         + ".join(
    f"CAST(count(*) > {_SPLIT_CAP << j} AS INT)"
    for j in range(_EXTRA_BITS)
)
_ADAPTIVE_CELL_SQL = f"""nb AS (
  SELECT greatest({_MIN_CELL_BITS},
                  CAST(ceil(log2(greatest(8, count(*) // {_TARGET_CELL})))
                     AS INT)) AS bits FROM e
),
sg AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                i -> (strpos('0123456789abcdef',
                        substr(md5(CAST(p.p AS VARCHAR) || ':'
                                   || CAST(i AS VARCHAR)), 1, 1))
                      - 8.5) * e.v[i])) > 0
              THEN CAST(pow(2.0, p.p) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS sig
  FROM e CROSS JOIN (SELECT unnest(range(0,
                       (SELECT bits FROM nb) + {_EXTRA_BITS})) AS p) p
  GROUP BY e.vec_id
),
cg AS (
  SELECT sig % CAST(pow(2.0, (SELECT bits FROM nb)) AS BIGINT)
           AS coarse,
         {_SPLIT_LADDER_SQL}
           AS extra
  FROM sg GROUP BY 1
),
a1 AS (
  SELECT sg.vec_id,
         sg.sig % CAST(pow(2.0, (SELECT bits FROM nb) + cg.extra)
                       AS BIGINT) AS cid
  FROM sg JOIN cg
    ON sg.sig % CAST(pow(2.0, (SELECT bits FROM nb)) AS BIGINT)
       = cg.coarse
)"""


def _assign_adaptive_cells(
    e: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Hyperplane-signature cell assignment with corpus-size-derived
    width bits = _cell_bits(n), returning (vec_id, v, nrm, cluster).

    ``carry``: extra columns of ``e`` to pass through to the output
    (r14, VERDICT #6): the assignment already ends with an
    ``e ⋈ assign`` join-back that re-attaches ``v``, so per-row
    metadata (e.g. a training label) rides that join for free —
    callers that previously joined the label back themselves paid a
    second corpus-scale vec_id join for it.

    Shape: the bits*d hyperplane weight matrix (md5-derived
    constants — data-independent, identical in the DuckDB oracle) is
    computed driver-side (~10 KB) and rides the closure of ONE
    Arrow-batched mapInPandas pass over e; each vector crosses the
    Arrow boundary ONCE and costs bits*d flops — LINEAR in n with a
    log-n factor, vs n*k*d for flat nearest-of-k assignment (the
    design the third scale decade killed: with k = n // 64 tracking
    corpus size, flat assignment is quadratic — measured 37.9x wall
    for 10x data at 200 k vectors, SCALE.md).  Projections accumulate
    per-DIMENSION in numpy — the oracle's list_sum left-to-right IEEE
    order — so every sign decision (and therefore every cell id) is
    bit-identical across engines; a sign flip would need |proj|
    below fold-order noise (~1e-12 across 64 terms), and the md5
    weights are half-integers so projections land on x.0/x.5 grids
    only for degenerate all-equal vectors.

    This is the same sign-LSH primitive banded_lsh_buckets ships for
    near-dup candidates (one band, width grown with log n) — at
    100 TB the assignment pass is embarrassingly parallel with NO
    driver state beyond the weight literals, exactly the shape an
    IVF coarse quantizer wants but without its flat n*nlist scan.

    The vector NORM is also computed here, ONCE per vector, and
    carried into the pair stage (the dominant per-pair cost is
    otherwise recomputing both norms for every candidate): downstream
    cosines are dot/(nrm_a*nrm_b), bit-identical to the oracle's
    sqrt(list_sum(..))*sqrt(list_sum(..)) because the sum-of-squares
    folds in the same dimension order in both engines and sqrt is
    IEEE-correctly-rounded.

    SECOND LEVEL (the fourth scale decade's lesson): hyperplane signs
    are correlated for clustered corpora, so a few cells collect far
    more than _TARGET_CELL rows and their c² pair cost compounds as
    bits grow — measured 16.0× wall for 10× data at 2 M vectors, with
    21% of the pair mass in the 446 cells above 256 rows (SCALE.md
    fourth decade).  Every vector therefore gets a signature of
    bits + _EXTRA_BITS planes; coarse cells (low ``bits`` bits — the
    identical id the single-level design produced) exceeding
    _SPLIT_CAP rows are RE-SPLIT by the next
    ceil(log2(cnt/_SPLIT_CAP)) signature bits, an integer threshold
    ladder with no float log anywhere, so the oracle derives the same
    widths from its own count.  Cells at or under the cap keep their
    single-level id unchanged.  Post-fix pairs-per-row: 74→65 at
    200 k, 114→76 at 2 M — the residual growth is the bounded ±2×
    ceil(log2) cell-size wobble, not compounding skew."""
    n = e.count()
    bits = _cell_bits(n)
    width = bits + _EXTRA_BITS
    w = np.array(_band_weight_arrays(width, 1), dtype=np.float64)
    shifts = 1 << np.arange(width, dtype=np.int64)

    def assign_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf["v"].to_numpy())
            acc = mat[:, 0, None] * w[:, 0][None, :]
            # The vector NORM rides the same numpy pass (sum of
            # squares accumulated per DIMENSION, left to right — the
            # oracle's list_sum fold order, so sqrt is bit-identical):
            # computing it as a JVM zip_with/aggregate per row instead
            # puts an interpreted (non-codegen) higher-order fold in
            # the join stage's hot loop — the fourth decade measured
            # that stage at 5x the CPU of its identical-I/O twin.
            nsq = mat[:, 0] * mat[:, 0]
            for i in range(1, mat.shape[1]):
                acc = acc + mat[:, i, None] * w[:, i][None, :]
                nsq = nsq + mat[:, i] * mat[:, i]
            sig = ((acc > 0).astype(np.int64) * shifts[None, :]).sum(
                axis=1
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "sig": sig,
                    "nrm": np.sqrt(nsq),
                }
            )

    # One hash exchange on the coarse id feeds BOTH consumers (the
    # count aggregate and the width join-back), so the Arrow pass and
    # its exchange are planned once and deduplicated by Spark's
    # ReusedExchange — without the explicit repartition the two
    # branches each re-run the scan + mapInPandas subtree (measured:
    # 2 MapInPandas nodes in the executed plan).  Only the few cells
    # that actually need splitting (cnt > _SPLIT_CAP — 446 of 32 768
    # at 2 M vectors) are broadcast; everyone else takes extra = 0
    # through the left join's null.
    sigp = (
        e.select("vec_id", "v")
        .mapInPandas(
            assign_batches, "vec_id long, sig long, nrm double"
        )
        .withColumn(
            "coarse", F.col("sig") % F.lit(1 << bits).cast("long")
        )
        .repartition(F.col("coarse"))
    )
    extra_col = None
    for j in range(_EXTRA_BITS):
        rung = (F.col("cnt") > (_SPLIT_CAP << j)).cast("int")
        extra_col = rung if extra_col is None else extra_col + rung
    splitw = (
        sigp.groupBy("coarse")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > _SPLIT_CAP)
        .select("coarse", extra_col.alias("extra"))
    )
    assign = (
        sigp.join(F.broadcast(splitw), "coarse", "left")
        .select(
            "vec_id",
            "nrm",
            (
                F.col("sig")
                % F.pow(
                    F.lit(2.0),
                    F.lit(bits) + F.coalesce(F.col("extra"), F.lit(0)),
                ).cast("long")
            ).alias("cluster"),
        )
    )
    return e.join(assign, "vec_id").select(
        "vec_id", "v", "nrm", "cluster", *carry
    )


def _assign_cells_fixed(e: DataFrame, bits: int) -> DataFrame:
    """The fixed-width core of :func:`_assign_adaptive_cells`:
    hyperplane-signature assignment with a CALLER-pinned ``bits`` —
    used by ``ann_index_upsert``, where the quantizer width is frozen
    at index creation (an index whose cell ids shift with corpus size
    would invalidate its own postings).  Returns (vec_id, nrm,
    cluster): the vector NORM rides the same numpy pass (sum of
    squares accumulated per DIMENSION, left to right — the exact fold
    order of norm()'s aggregate(zip_with) and the oracle's list_sum,
    so the double is bit-identical), which deletes the old
    norm-side/assign-side join: the delta was scanned twice and
    shuffled on vec_id per day just to glue nrm back onto its own
    assignment (r13, plans/r13/ann_index_upsert_before.txt)."""
    from distributed_system_spark.operators.similarity import (
        _band_weight_arrays,
    )

    w = np.array(_band_weight_arrays(bits, 1), dtype=np.float64)
    shifts = 1 << np.arange(bits, dtype=np.int64)

    def assign_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf["v"].to_numpy())
            acc = mat[:, 0, None] * w[:, 0][None, :]
            nsq = mat[:, 0] * mat[:, 0]
            for i in range(1, mat.shape[1]):
                acc = acc + mat[:, i, None] * w[:, i][None, :]
                nsq = nsq + mat[:, i] * mat[:, i]
            cell = ((acc > 0).astype(np.int64) * shifts[None, :]).sum(
                axis=1
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "nrm": np.sqrt(nsq),
                    "cluster": cell.astype(np.int32),
                }
            )

    return e.select("vec_id", "v").mapInPandas(
        assign_batches, "vec_id long, nrm double, cluster int"
    )


def _cell_pair_dots(
    m: DataFrame, with_labels: bool, prune_topk: int | None = None
) -> DataFrame:
    """All DIRECTED within-cell pairs (id_a != id_b) with raw dot
    products and per-vector norms, one Arrow round-trip per CELL.

    The pair-join form ships 2*dim doubles across the Arrow boundary
    per PAIR; here each cell's vectors cross ONCE (cells are
    ~_TARGET_CELL rows by construction) and the gram matrix is
    accumulated dimension-by-dimension in numpy — the same
    left-to-right IEEE order as dot()/dot_seq() and the oracle's
    list_sum, so every emitted dot is bit-identical to the per-pair
    form.  Rounding and the cosine DIVISION stay JVM-side
    (round(dot/(na*nb), 6)) exactly as before, so cross-engine
    rounding parity is untouched.  Output rows are 6 narrow doubles
    (+2 ints with labels), ~25x less Arrow traffic than shipping
    both vectors per pair; compute per cell is dim outer products of
    a ~64x64 block.

    ``prune_topk=k`` keeps, per source row, only the pairs whose RAW
    cosine is within 2e-6 of the row's k-th largest raw cosine — a
    provable SUPERSET of the rounded top-k the downstream JVM window
    selects, so the pair shuffle is ~n*k rows instead of n*cell
    (measured 15x smaller at 2 M vectors).  Proof of safety: the
    6-decimal rounding moves any cosine by <= 5e-7; if raw(q) <
    raw_k - 2e-6 then rounded(q) <= raw(q) + 5e-7 < raw_k - 1.5e-6
    <= rounded(p) - 1e-6 for each of the k pairs p with raw(p) >=
    raw_k, so q ranks strictly below k pairs and cannot enter the
    rounded top-k under ANY tiebreak.  The raw cosine here is the
    same double quotient dot/(na*nb) the JVM computes, so the margin
    only has to absorb rounding, not cross-engine drift.  Ranking,
    rounding, and tie-breaking all still happen JVM-side on the
    pruned superset — emitted (dot, na, nb) values are bit-identical
    to the unpruned path's."""
    schema = (
        "cluster long, id_a long, id_b long, "
        "dot double, na double, nb double"
    )
    if with_labels:
        schema += ", label_a int, label_b int"

    def gen(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    f.split(" ")[0]: pd.Series(dtype=t)
                    for f, t in zip(
                        schema.split(", "),
                        ["int64"] * 3 + ["float64"] * 3 + ["int32"] * 2,
                    )
                }
            )
        mat = np.vstack(pdf["v"].to_numpy())
        acc = mat[:, 0, None] * mat[None, :, 0]
        for i in range(1, mat.shape[1]):
            acc = acc + mat[:, i, None] * mat[None, :, i]
        ids = pdf["vec_id"].to_numpy()
        nr = pdf["nrm"].to_numpy()
        if prune_topk is not None and n - 1 > prune_topk:
            cos = acc / (nr[:, None] * nr[None, :])
            np.fill_diagonal(cos, -np.inf)
            kth = np.partition(cos, -prune_topk, axis=1)[
                :, -prune_topk
            ]
            keep = cos >= (kth[:, None] - 2e-6)
            ii, jj = np.where(keep)
        else:
            ii, jj = np.where(~np.eye(n, dtype=bool))
        out = {
            "cluster": np.full(ii.size, int(pdf["cluster"].iloc[0])),
            "id_a": ids[ii],
            "id_b": ids[jj],
            "dot": acc[ii, jj],
            "na": nr[ii],
            "nb": nr[jj],
        }
        if with_labels:
            lab = pdf["label"].to_numpy()
            out["label_a"], out["label_b"] = lab[ii], lab[jj]
        return pd.DataFrame(out)

    return m.groupBy("cluster").applyInPandas(gen, schema)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, vec) base frame for every vector query.  widen_if_narrow
    keeps the numpy/mapInPandas vector math parallel on the driver's
    single-row-group embeddings file (no-op on real multi-row-group
    layouts — see sources/tables.py)."""
    emb = widen_if_narrow(
        load_table(spark, sf_dir, "embeddings"),
        min_slot_bytes=WIDEN_SLOT_BYTES_DENSE,
    )
    return emb.select(
        F.col("vec_id").alias("id"), vec_double("embedding").alias("vec")
    )


@register(
    "ann_topk_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
scored AS (
  SELECT q.id AS q_id, c.id AS n_id, {_COS_SQL} AS cos
  FROM e q JOIN e c ON q.id < 10 AND c.id >= 10
)
SELECT q_id, n_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rnk
  FROM scored
) WHERE rnk <= 5
""",
    tags=("similarity", "ann"),
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (vec_id < 10)
    over the rest of the corpus — the brute-force ANN baseline."""
    vecs = _vecs(spark, sf_dir)
    return brute_force_topk(
        vecs.filter(F.col("id") < 10), vecs.filter(F.col("id") >= 10), k=5
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
proj AS (
  SELECT id, p,
         sum((strpos('0123456789abcdef',
                     substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
                            1, 1)) - 8.5) * vec[CAST(i AS INT)]) AS pr
  FROM e
  CROSS JOIN (SELECT unnest(range(0, 8)) AS p) ps
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ds
  GROUP BY id, p
),
buckets AS (
  SELECT id, CAST(sum(CASE WHEN pr > 0 THEN CAST(pow(2.0, p) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY id
),
scored AS (
  SELECT q.id AS q_id, c.id AS n_id, {_COS_SQL} AS cos
  FROM (SELECT e.id, e.vec, b.bucket FROM e JOIN buckets b ON b.id = e.id
        WHERE e.id < 10) q
  JOIN (SELECT e.id, e.vec, b.bucket FROM e JOIN buckets b ON b.id = e.id
        WHERE e.id >= 10) c
    ON q.bucket = c.bucket
)
SELECT q_id, n_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors searching only the query's
    hyperplane-LSH bucket — the 100 TB path (per-query work is
    |corpus| / 2^planes). md5-derived hyperplanes keep it
    oracle-checkable."""
    vecs = _vecs(spark, sf_dir)
    return lsh_bucket_topk(
        vecs.filter(F.col("id") < 10),
        vecs.filter(F.col("id") >= 10),
        k=3,
        num_planes=8,
    )


@register(
    "ann_banded_topk",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
proj AS (
  SELECT id, p,
         sum((strpos('0123456789abcdef',
                     substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
                            1, 1)) - 8.5) * vec[CAST(i AS INT)]) AS pr
  FROM e
  CROSS JOIN (SELECT unnest(range(0, 32)) AS p) ps
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ds
  GROUP BY id, p
),
bb AS (
  SELECT id, CAST(p // 4 AS INT) AS band,
         CAST(sum(CASE WHEN pr > 0 THEN CAST(pow(2.0, p % 4) AS BIGINT)
                       ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY id, CAST(p // 4 AS INT)
),
flip AS (
  SELECT id, band, bit FROM (
    SELECT id, CAST(p // 4 AS INT) AS band, CAST(p % 4 AS INT) AS bit,
           row_number() OVER (PARTITION BY id, p // 4
                              ORDER BY round(abs(pr), 6), p % 4) AS rn
    FROM proj
  ) WHERE rn = 1
),
qprobes AS (
  SELECT id, band, bucket FROM bb WHERE id < 10
  UNION ALL
  SELECT b.id, b.band,
         CAST(xor(CAST(b.bucket AS BIGINT),
                  CAST(pow(2.0, f.bit) AS BIGINT)) AS INT) AS bucket
  FROM bb b JOIN flip f ON f.id = b.id AND f.band = b.band
  WHERE b.id < 10
),
cand AS (
  SELECT DISTINCT q.id AS q_id, c.id AS n_id
  FROM qprobes q
  JOIN bb c ON c.band = q.band AND c.bucket = q.bucket AND c.id >= 10
),
scored AS (
  SELECT cand.q_id, cand.n_id, {_COS_SQL} AS cos
  FROM cand JOIN e q ON q.id = cand.q_id JOIN e c ON c.id = cand.n_id
)
SELECT q_id, n_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
    tags=("similarity", "ann", "lsh", "multiprobe"),
)
def ann_banded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded multi-probe LSH top-3: 8 bands x 4 bits, queries probe
    each band's bucket plus its lowest-margin bit flip.  The
    recall-per-cost frontier of the ANN paths here: recall@3 = 0.97 at
    HALF the index rows of the single-probe 3x16 config (measured; see
    SCALE.md).  The oracle reproduces the whole pipeline — md5-derived
    hyperplanes, rounded-margin flip choice, candidate join, rounded
    cosine ranking — in SQL."""
    vecs = _vecs(spark, sf_dir)
    return banded_lsh_topk(
        vecs.filter(F.col("id") < 10),
        vecs.filter(F.col("id") >= 10),
        k=3,
        bits_per_band=4,
        bands=8,
        probes=2,
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
cents AS (SELECT id AS list_id, vec AS c_vec FROM e
          WHERE id BETWEEN 10 AND 17),
qa AS (
  SELECT q_id, list_id FROM (
    SELECT q.id AS q_id, c.list_id,
           row_number() OVER (
             PARTITION BY q.id
             ORDER BY round(list_sum(list_transform(range(1, 65),
                         i -> q.vec[i] * c.c_vec[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                         i -> q.vec[i] * q.vec[i])))
                    * sqrt(list_sum(list_transform(range(1, 65),
                         i -> c.c_vec[i] * c.c_vec[i])))), 6) DESC,
                      c.list_id) AS pr
    FROM e q CROSS JOIN cents c WHERE q.id < 10
  ) WHERE pr <= 2
),
ca AS (
  SELECT n_id, list_id FROM (
    SELECT n.id AS n_id, c.list_id,
           row_number() OVER (
             PARTITION BY n.id
             ORDER BY round(list_sum(list_transform(range(1, 65),
                         i -> n.vec[i] * c.c_vec[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                         i -> n.vec[i] * n.vec[i])))
                    * sqrt(list_sum(list_transform(range(1, 65),
                         i -> c.c_vec[i] * c.c_vec[i])))), 6) DESC,
                      c.list_id) AS pr
    FROM e n CROSS JOIN cents c WHERE n.id >= 10
  ) WHERE pr <= 1
),
cand AS (
  SELECT DISTINCT qa.q_id, ca.n_id
  FROM qa JOIN ca ON qa.list_id = ca.list_id
),
scored AS (
  SELECT cand.q_id, cand.n_id, {_COS_SQL} AS cos
  FROM cand JOIN e q ON q.id = cand.q_id JOIN e c ON c.id = cand.n_id
)
SELECT q_id, n_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3: corpus bucketed into 8 inverted lists
    (centroids = corpus ids 10..17, deterministic so DuckDB can mirror
    them), queries probe their 2 nearest lists. The second ANN scale
    path next to hyperplane LSH; same plan shape as a k-means IVF."""
    vecs = _vecs(spark, sf_dir)
    return ivf_topk(
        vecs.filter(F.col("id") < 10),
        vecs.filter(F.col("id") >= 10),
        vecs.filter((F.col("id") >= 10) & (F.col("id") < 18)),
        k=3,
        nprobe=2,
    )


@register(
    "ann_pq_topk",
    oracle="""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS raw
           FROM embeddings),
nv AS (
  SELECT id, list_transform(raw, x -> x /
           sqrt(list_sum(list_transform(raw, y -> y * y)))) AS vec
  FROM e
),
ms AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS m),
cb AS (
  SELECT ms.m, CAST(nv.id - 10 AS INT) AS cid,
         nv.vec[ms.m * 4 + 1 : ms.m * 4 + 4] AS cvec
  FROM nv CROSS JOIN ms WHERE nv.id BETWEEN 10 AND 73
),
enc AS (
  SELECT n_id, m, cid FROM (
    SELECT nv.id AS n_id, cb.m, cb.cid,
           row_number() OVER (PARTITION BY nv.id, cb.m ORDER BY
             round(list_sum(list_transform(range(1, 5),
               i -> (nv.vec[cb.m * 4 + i] - cb.cvec[i])
                  * (nv.vec[cb.m * 4 + i] - cb.cvec[i]))), 6),
             cb.cid) AS rn
    FROM nv CROSS JOIN cb WHERE nv.id >= 10
  ) WHERE rn = 1
),
dtab AS (
  SELECT q.id AS q_id, cb.m, cb.cid,
         CAST(round(list_sum(list_transform(range(1, 5),
           i -> (q.vec[cb.m * 4 + i] - cb.cvec[i])
              * (q.vec[cb.m * 4 + i] - cb.cvec[i]))), 12)
              AS DECIMAL(28,12)) AS qd
  FROM nv q CROSS JOIN cb WHERE q.id < 10
),
adc AS (
  SELECT d.q_id, enc.n_id,
         round(CAST(sum(d.qd) AS DOUBLE), 6) AS adist
  FROM enc JOIN dtab d ON d.m = enc.m AND d.cid = enc.cid
  GROUP BY d.q_id, enc.n_id
),
short AS (
  SELECT q_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY adist, n_id) AS srn
    FROM adc
  ) WHERE srn <= 50
),
scored AS (
  SELECT s.q_id, s.n_id,
         round(list_sum(list_transform(range(1, 65),
                 i -> q.vec[i] * c.vec[i]))
           / (sqrt(list_sum(list_transform(range(1, 65),
                 i -> q.vec[i] * q.vec[i])))
            * sqrt(list_sum(list_transform(range(1, 65),
                 i -> c.vec[i] * c.vec[i])))), 6) AS cos
  FROM short s JOIN nv q ON q.id = s.q_id JOIN nv c ON c.id = s.n_id
)
SELECT q_id, n_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
    tags=("similarity", "ann", "pq", "quantization"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 in its production shape: unit-
    normalize, encode the corpus (vec_id >= 10) into 16 subspace
    codes against 4-dim codebooks (corpus subvectors 10..73,
    deterministic so DuckDB mirrors them), ADC-score a 50-candidate
    shortlist per query (vec_id < 10) from broadcast lookup tables,
    then exact-rerank only the shortlist — see operators/similarity
    .py::pq_topk for the recall measurements (0.97 recall@3 here; raw
    un-normalized ADC is ~0 — L2 vs cosine order) and the 100 TB
    analysis (32x index compression; full vectors touched only for
    shortlist x |Q| rows)."""
    from distributed_system_spark.operators.similarity import pq_topk

    raw = _vecs(spark, sf_dir)
    nrm = F.sqrt(
        F.aggregate(
            F.transform("vec", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    vecs = raw.select(
        "id", F.transform("vec", lambda x: x / nrm).alias("vec")
    )
    return pq_topk(
        vecs.filter(F.col("id") < 10),
        vecs.filter(F.col("id") >= 10),
        vecs.filter((F.col("id") >= 10) & (F.col("id") < 74)),
        k=3,
    )


@register(
    "ann_ivf_kmeans",
    oracle=f"""
WITH eall AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings),
e AS (SELECT id AS vec_id, vec AS v FROM eall WHERE id >= 10),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id BETWEEN 10 AND 17),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SQL_SQDIST}, c.cid) AS rn
    FROM e CROSS JOIN c0 c) WHERE rn = 1
),
pts AS (
  SELECT a1.cid, unnest(e.v) AS x, generate_subscripts(e.v, 1) AS pos
  FROM a1 JOIN e USING (vec_id)
),
cents AS (
  SELECT cid AS list_id, list(m ORDER BY pos) AS c_vec FROM (
    SELECT cid, pos,
           round(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                 / count(*), 9) AS m
    FROM pts GROUP BY cid, pos) GROUP BY cid
),
qa AS (
  SELECT q_id, list_id FROM (
    SELECT q.id AS q_id, c.list_id,
           row_number() OVER (
             PARTITION BY q.id
             ORDER BY round(list_sum(list_transform(range(1, 65),
                         i -> q.vec[i] * c.c_vec[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                         i -> q.vec[i] * q.vec[i])))
                    * sqrt(list_sum(list_transform(range(1, 65),
                         i -> c.c_vec[i] * c.c_vec[i])))), 6) DESC,
                      c.list_id) AS pr
    FROM eall q CROSS JOIN cents c WHERE q.id < 10
  ) WHERE pr <= 2
),
ca AS (
  SELECT n_id, list_id FROM (
    SELECT n.id AS n_id, c.list_id,
           row_number() OVER (
             PARTITION BY n.id
             ORDER BY round(list_sum(list_transform(range(1, 65),
                         i -> n.vec[i] * c.c_vec[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                         i -> n.vec[i] * n.vec[i])))
                    * sqrt(list_sum(list_transform(range(1, 65),
                         i -> c.c_vec[i] * c.c_vec[i])))), 6) DESC,
                      c.list_id) AS pr
    FROM eall n CROSS JOIN cents c WHERE n.id >= 10
  ) WHERE pr <= 1
),
cand AS (
  SELECT DISTINCT qa.q_id, ca.n_id
  FROM qa JOIN ca ON qa.list_id = ca.list_id
),
scored AS (
  SELECT cand.q_id, cand.n_id, {_COS_SQL} AS cos
  FROM cand JOIN eall q ON q.id = cand.q_id JOIN eall c ON c.id = cand.n_id
)
SELECT q_id, n_id, cos, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
    tags=("similarity", "ann", "ivf", "kmeans", "composition"),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with LEARNED centroids: one Lloyd re-estimation (k=8, init =
    corpus vectors 10..17) over the corpus produces the inverted-list
    centroids, then the standard IVF candidate equi-join runs against
    them — the kmeans_clusters → ann_ivf_topk composition (the A22
    job-chaining shape: output of one operator feeds the next).  Same
    plan as ann_ivf_topk — broadcast k·d centroid literals, one corpus
    assignment scan, equi-join on list_id — but with data-adapted
    lists, which is what a production IVF index actually uses.  The
    oracle reproduces the Lloyd round AND the probe pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus_v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).filter(F.col("vec_id") >= 10)
    c0 = [
        (r["vec_id"], list(r["v"]))
        for r in corpus_v.filter(F.col("vec_id") < 18)
        .orderBy("vec_id")
        .collect()
    ]
    cents = _lloyd_round(corpus_v, c0)
    spark_sess = spark
    cents_df = spark_sess.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "id long, vec array<double>",
    )
    vecs = _vecs(spark, sf_dir)
    return ivf_topk(
        vecs.filter(F.col("id") < 10),
        vecs.filter(F.col("id") >= 10),
        cents_df,
        k=3,
        nprobe=2,
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
m AS (SELECT id, vec,
             list_max(list_transform(vec, x -> abs(x))) AS amax
      FROM e)
SELECT id, amax AS scale,
       array_to_string(
         list_transform(vec, x -> CAST(floor(x * 127.0 / amax + 0.5)
                                       AS INTEGER)), ',') AS q
FROM m
""",
    tags=("similarity", "quantization"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column
    (see operators/similarity.py::quantize_int8). max is exact on
    doubles so even `scale` hash-matches without rounding.  The int8
    code array is emitted as the repo's engine-stable comma-joined
    string encoding (the agg_arrays / text_token_ids convention) so
    the driver's pandas canonicalizer can sort it — raw top-level
    array columns are banned by tests/test_contract.py."""
    codes = quantize_int8(_vecs(spark, sf_dir))
    return codes.select(
        "id",
        "scale",
        F.array_join(
            F.transform("q", lambda x: x.cast("string")), ","
        ).alias("q"),
    )


@register(
    "embedding_neardup",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
scored AS (
  SELECT q.id AS id_a, c.id AS id_b, {_COS_SQL} AS cos
  FROM e q JOIN e c ON q.id < c.id
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.4
""",
    tags=("similarity", "dedup"),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (>= 0.4 on this synthetic
    corpus; real dedup uses ~0.95) via banded-LSH candidates — never
    an all-pairs crossJoin.  The oracle stays EXACT all-pairs: the md5
    hyperplanes are deterministic and the default knobs achieve full
    recall on this corpus at every SF, so LSH-vs-exact equality is
    itself part of what the oracle certifies (see
    operators/similarity.py::lsh_neardup_pairs).

    SCALE CAVEAT (measured, SCALE.md round-6 second decade): the
    full-recall-at-0.4 contract pins the banding at 3 bits x 32
    bands, so candidate volume grows ~n^2 * bands / 2^bits — this is
    the registry's one deliberately contract-superlinear query, the
    window_ntile of dedup.  The production pass is now REGISTERED and
    MEASURED twice over: ``lsh_neardup_prod`` (pinned 18 bits x 48
    bands contract demo, exact-recall oracle on planted twins) and —
    the entry point to actually use — ``lsh_neardup_adaptive``, whose
    width bits = max(18, ceil(log2 n) + 6) is DERIVED from the corpus
    count and measured at 1.3x / 3.2x wall per 10x data across
    sf0.1 -> sf1 -> sf10 at 100% oracle-certified recall (SCALE.md
    rounds 7-8) — same operator, corpus-tracking knobs."""
    return lsh_neardup_pairs(_vecs(spark, sf_dir), 0.4)


@register(
    "dedup_cc_clusters",
    oracle=f"""
WITH RECURSIVE
e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
edges AS (
  SELECT q.id AS src, c.id AS dst
  FROM e q JOIN e c ON q.id < c.id
  WHERE {_COS_SQL} >= 0.4
),
sym AS (SELECT src, dst FROM edges
        UNION ALL SELECT dst AS src, src AS dst FROM edges),
walk(id, comp) AS (
  SELECT id, id FROM e
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.id
),
cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
SELECT cc.comp AS cluster_id,
       count(*) AS n_members,
       min(cc.id) AS representative
FROM cc GROUP BY cc.comp
""",
    tags=("similarity", "dedup", "iterative"),
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: embedding near-dup pairs (cosine >= 0.4)
    grouped into connected components by the iterative min-label loop
    (operators/dedup.py::connected_components) — the step that turns
    pairwise dedup into keep-one-per-group. The oracle reproduces the
    fixpoint with a recursive CTE; the Spark loop is the
    non-SQL-expressible iterative-algorithm class done as repeated
    joins, O(diameter) jobs."""
    from distributed_system_spark.operators.dedup import (
        connected_components,
    )

    vecs = _vecs(spark, sf_dir)
    edges = lsh_neardup_pairs(vecs, 0.4).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges, vecs.select("id"))
    return cc.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("id").alias("representative"),
    )


@register(
    "kmeans_clusters",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SQL_SQDIST}, c.cid) AS rn
    FROM e CROSS JOIN c0 c) WHERE rn = 1
),
pts AS (
  SELECT a1.cid, unnest(e.v) AS x, generate_subscripts(e.v, 1) AS pos
  FROM a1 JOIN e USING (vec_id)
),
c1 AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos,
           round(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                 / count(*), 9) AS m
    FROM pts GROUP BY cid, pos) GROUP BY cid
)
SELECT vec_id, cid AS cluster FROM (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_SQL_SQDIST}, c.cid) AS rn
  FROM e CROSS JOIN c1 c) WHERE rn = 1
""",
    tags=("clustering", "kmeans", "iterative"),
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, one centroid update, deterministic init =
    vectors 0..7), the iterative-algorithm archetype the reference
    could only express as chained MapleJuice jobs (A22).

    Spark-first shape (mirrors MLlib KMeans): each iteration is one
    embarrassingly-parallel assignment pass against k centroid
    *literals* (k·d doubles live on the driver — constant size at any
    corpus scale, never a data collect) and one groupBy(cluster, pos)
    mean to re-estimate centroids.  Distances round to 6 and means to
    9 via the exact-decimal path so the DuckDB oracle (same two CTE
    rounds) lands on identical assignments."""
    k = 8
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    c0 = [
        (r["vec_id"], list(r["v"]))
        for r in e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    c1 = _lloyd_round(e, c0)
    return _kmeans_assign(e, c1).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


def _kmeans_assign(
    df: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Nearest-centroid assignment against k centroid LITERALS
    (rounded squared distance, centroid-id tiebreak) — the
    embarrassingly-parallel half of a Lloyd iteration.

    The k squared distances are computed in ONE vectorized pandas_udf
    (r13): the old per-centroid zip_with + aggregate lambdas are
    interpreted expression trees evaluated k x dim times per row —
    the same non-codegen HOF cost _assign_adaptive_cells' docstring
    measured at 5x — where numpy does the identical arithmetic as a
    batched (n x k) accumulation.  Bit-parity: differences square and
    accumulate per DIMENSION, left to right, exactly the fold order
    of aggregate(zip_with(...)) (whose 0.0 + t0 seed is exact), so
    every distance double is bit-identical to the old form's, and the
    round-to-6 + (d, cid) array_min tiebreak stay JVM-side untouched
    — cross-engine rounding parity is not in play."""
    ids = [int(cid) for cid, _ in cents]
    w = np.array([vec for _, vec in cents], dtype=np.float64)

    @F.pandas_udf("array<double>")
    def dists(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype=np.float64)
        d0 = mat[:, 0, None] - w[None, :, 0]
        acc = d0 * d0
        for i in range(1, mat.shape[1]):
            di = mat[:, i, None] - w[None, :, i]
            acc = acc + di * di
        return pd.Series(list(acc))

    choices = [
        F.struct(
            F.round(F.element_at("_kd", j + 1), 6).alias("d"),
            F.lit(ids[j]).cast("int").alias("cid"),
        )
        for j in range(len(cents))
    ]
    return (
        df.withColumn("_kd", dists("v"))
        .withColumn("cluster", F.array_min(F.array(*choices))["cid"])
        .drop("_kd")
    )


def _lloyd_round(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> list[tuple[int, list[float]]]:
    """One Lloyd re-estimation: assign to ``cents``, return per-cluster
    exact-decimal means rounded to 9 (engine-reproducible).  The
    driver holds only k·d doubles."""
    c1_rows = (
        _kmeans_assign(e, cents)
        .select("cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("m")
        )
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in c1_rows:
        by_cid.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
    return [
        (cid, [dims[p] for p in sorted(dims)])
        for cid, dims in sorted(by_cid.items())
    ]


# Rademacher sign for (input dim i, output dim j): parity of the first
# hex digit of md5("i:j") — an engine-portable pseudo-random ±1 matrix,
# derived (never stored) on both sides.
_RP_EXPR = (
    "transform(sequence(0, 7), j -> cast(round(aggregate("
    "  zip_with(vec, sequence(0, size(vec) - 1), (x, i) ->"
    "    CASE WHEN position(substr(md5(concat(cast(i as string), ':',"
    "              cast(j as string))), 1, 1) IN '0123456789abcdef') % 2 = 1"
    "         THEN x ELSE -x END),"
    "  cast(0 as decimal(28,9)),"
    "  (acc, y) -> cast(acc + cast(round(y, 9) as decimal(28,9))"
    "              as decimal(28,9))), 6) as double))"
)


@register(
    "embedding_random_projection",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS (
  SELECT vec_id, unnest(e.v) AS x, generate_subscripts(e.v, 1) - 1 AS i
  FROM e
)
SELECT vec_id, j,
       CAST(round(sum(CAST(round(
         CASE WHEN strpos('0123456789abcdef',
                 substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
                        1, 1)) % 2 = 1
              THEN x ELSE -x END, 9) AS DECIMAL(38,9))), 6) AS DOUBLE) AS val
FROM x CROSS JOIN (SELECT unnest(range(0, 8)) AS j) dims
GROUP BY vec_id, j
""",
    tags=("similarity", "projection"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: 64-dim embeddings down
    to 8 dims through a Rademacher ±1 matrix derived from md5 parity —
    the dimensionality-reduction pass that makes downstream ANN / LSH
    8× cheaper while approximately preserving pairwise distances
    (JL lemma).  The matrix is pseudo-random but fully deterministic
    and derived identically by the oracle, so every projected value
    hash-matches (signed components are rounded then summed in exact
    DECIMAL — no float-order dependence).

    At 100 TB: pure per-row map — zip_with + aggregate inside one
    projection, no shuffle, no UDF, nothing collected; a learned
    projection (PCA) would broadcast its d×k matrix into the same
    plan shape.  Long-form output (vec_id, j, val) keeps the oracle
    comparison row-wise.
    """
    vecs = _vecs(spark, sf_dir)
    proj = vecs.select("id", F.expr(_RP_EXPR).alias("p"))
    return proj.select(
        F.col("id").alias("vec_id"),
        F.posexplode("p").alias("j", "val"),
    ).withColumn("j", F.col("j").cast("long"))


@register(
    "semdedup_pairs",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ADAPTIVE_CELL_SQL},
m AS (SELECT a1.vec_id, a1.cid, e.v AS vec FROM a1 JOIN e USING (vec_id))
SELECT CAST(q.cid AS BIGINT) AS cluster, q.vec_id AS id_a,
       c.vec_id AS id_b, {_COS_SQL} AS cos
FROM m q JOIN m c ON q.cid = c.cid AND q.vec_id < c.vec_id
WHERE {_COS_SQL} >= 0.4
""",
    tags=("similarity", "dedup", "semdedup"),
)
def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup (Abbas et al. 2023): partition the
    embedding space into ~64-row cells (hyperplane-signature cells,
    width derived from corpus size — see _cell_bits), then find
    near-duplicate pairs (cosine >= 0.4) ONLY within each cell — the
    trick that turns an O(n²) semantic-dup scan into a LINEAR
    n × cell_size pair join with no cross-cell comparisons at all.

    At 100 TB: the assignment pass is embarrassingly parallel against
    the ~10 KB md5-derived weight literals (n · bits · d flops —
    linear; the flat nearest-of-k Voronoi assignment this replaced
    was n·k·d, quadratic once k tracks n — measured 37.9× wall at
    the third scale decade, SCALE.md); the pair search is an
    equi-join on the cell id, so Spark shuffles each cell to one
    place and never materializes the global cross product; because
    cell count grows with n, per-cell work stays ~_TARGET_CELL²
    regardless of corpus size.  Recall is bounded by partition
    quality — pairs straddling a signature boundary are missed,
    which is SemDeDup's documented trade (same class as its k-means
    cells); the oracle derives the same bit width from count(*) and
    reproduces assignment and pair search exactly.
    """
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
    pairs = _cell_pair_dots(m, with_labels=False)
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select("cluster", "id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.4)
    )


@register(
    "embedding_centroid_by_lang",
    oracle="""
WITH j AS (
  SELECT d.lang, e.embedding::DOUBLE[] AS vec
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), flat AS (
  SELECT lang, unnest(vec) AS x, generate_subscripts(vec, 1) AS i
  FROM j
)
SELECT lang, CAST(i AS BIGINT) AS dim,
       round(CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE)
             / count(*), 6) AS centroid
FROM flat GROUP BY lang, i
""",
    tags=("similarity", "vector-agg", "centroid"),
)
def embedding_centroid_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language embedding centroids — the vector-aggregation
    primitive behind IVF list training and SemDeDup cluster seeds,
    as a declarative groupBy: explode each vector by position, sum
    per (group, dim) in exact decimal (order-insensitive — a plain
    double sum would vary with partitioning), divide by the group
    count.  Output is |groups|·d rows — bounded by groups, not
    corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    j = emb.join(docs, "vec_id").select(
        "lang", vec_double("embedding").alias("vec")
    )
    flat = j.select(
        "lang", F.posexplode("vec").alias("pos", "x")
    ).select("lang", (F.col("pos") + 1).cast("long").alias("dim"), "x")
    return flat.groupBy("lang", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(25,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid")
    )


@register(
    "ann_recall_report",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
exact_scored AS (
  SELECT q.id AS q_id, c.id AS n_id, {_COS_SQL} AS cos
  FROM e q JOIN e c ON q.id < 10 AND c.id >= 10
),
exact_top AS (
  SELECT q_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, n_id) AS rnk
    FROM exact_scored
  ) WHERE rnk <= 3
),
proj AS (
  SELECT id, p,
         sum((strpos('0123456789abcdef',
                     substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
                            1, 1)) - 8.5) * vec[CAST(i AS INT)]) AS pr
  FROM e
  CROSS JOIN (SELECT unnest(range(0, 8)) AS p) ps
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ds
  GROUP BY id, p
),
buckets AS (
  SELECT id, CAST(sum(CASE WHEN pr > 0 THEN CAST(pow(2.0, p) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY id
),
lsh_scored AS (
  SELECT q.id AS q_id, c.id AS n_id, {_COS_SQL} AS cos
  FROM (SELECT e.id, e.vec, b.bucket FROM e JOIN buckets b ON b.id = e.id
        WHERE e.id < 10) q
  JOIN (SELECT e.id, e.vec, b.bucket FROM e JOIN buckets b ON b.id = e.id
        WHERE e.id >= 10) c
    ON q.bucket = c.bucket
),
lsh_top AS (
  SELECT q_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, n_id) AS rnk
    FROM lsh_scored
  ) WHERE rnk <= 3
)
SELECT count(*) AS n_exact,
       count(l.n_id) AS n_hit,
       round(CAST(count(l.n_id) AS DOUBLE) / count(*), 6) AS recall_at_3
FROM exact_top x
LEFT JOIN lsh_top l ON x.q_id = l.q_id AND x.n_id = l.n_id
""",
    tags=("similarity", "ann", "evaluation"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of single-bucket LSH ANN vs the exact baseline, AS A
    QUERY — the measure-don't-guess evaluation a pipeline runs before
    trusting an approximate index.  Left-joins the exact top-3 set to
    the LSH top-3 set and counts hits; both sides reuse the exact
    operators already registered (`ann_topk_cosine`, `ann_lsh_topk`),
    so the report inherits their scale shapes."""
    vecs = _vecs(spark, sf_dir)
    q, c = vecs.filter(F.col("id") < 10), vecs.filter(F.col("id") >= 10)
    exact = brute_force_topk(q, c, k=3).select("q_id", "n_id")
    lsh = lsh_bucket_topk(q, c, k=3, num_planes=8).select(
        F.col("q_id").alias("l_q"), F.col("n_id").alias("l_n")
    )
    joined = exact.join(
        lsh,
        (F.col("q_id") == F.col("l_q")) & (F.col("n_id") == F.col("l_n")),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("l_n").alias("n_hit"),
        F.round(
            F.count("l_n").cast("double") / F.count(F.lit(1)), 6
        ).alias("recall_at_3"),
    )


@register(
    "embedding_pca_project",
    oracle=None,  # eigendecomposition is not SQL-expressible; accuracy
    # is pinned by tests/test_llm_ops.py (variance ordering + match
    # vs numpy's eigh up to sign at sf0.001)
    tags=("similarity", "pca", "projection"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus onto its top-2 principal
    components — the dimensionality-reduction face of the embedding
    toolkit next to embedding_random_projection (data-oblivious JL)
    and embedding_quantize_int8 (precision reduction): PCA is what
    you run FIRST on a new embedding corpus (drift monitoring,
    visualization, whitening before clustering).

    Scale shape — the X'X pattern: the d x d scatter matrix (d=64 →
    4096 entries) is computed as ONE distributed groupBy over
    exploded (i, j, xi*xj) products with exact DECIMAL sums; the
    driver holds only d² + d + 1 scalars (bounded by dims, never
    rows — same contract as k-means' k·d), runs numpy's 64x64 eigh,
    and broadcasts the top-2 eigenvectors back as literals for a
    shuffle-free projection scan.  Eigenvector sign is canonicalized
    (first nonzero component positive) so output is deterministic.
    """
    import numpy as np

    d = 64
    vecs = _vecs(spark, sf_dir)
    pairs = (
        vecs.select(
            F.explode(F.sequence(F.lit(1), F.lit(d))).alias("i"), "vec"
        )
        .select(
            "i",
            F.explode(F.sequence(F.lit(1), F.lit(d))).alias("j"),
            "vec",
        )
        .filter(F.col("i") <= F.col("j"))  # symmetric: upper triangle
        .select(
            "i",
            "j",
            (
                F.element_at("vec", F.col("i"))
                * F.element_at("vec", F.col("j"))
            )
            .cast("decimal(28,12)")
            .alias("xx"),
        )
    )
    xtx = pairs.groupBy("i", "j").agg(F.sum("xx").alias("s"))
    sums = vecs.select(
        F.explode(F.sequence(F.lit(1), F.lit(d))).alias("i"),
        "vec",
    ).select(
        "i",
        F.element_at("vec", F.col("i")).cast("decimal(28,12)").alias("x"),
    ).groupBy("i").agg(F.sum("x").alias("s"))
    n = vecs.count()
    S = np.zeros((d, d))
    for r in xtx.collect():  # d*(d+1)/2 = 2080 scalars — bounded by dims
        S[r["i"] - 1, r["j"] - 1] = float(r["s"])
        S[r["j"] - 1, r["i"] - 1] = float(r["s"])
    mu = np.zeros(d)
    for r in sums.collect():  # d scalars
        mu[r["i"] - 1] = float(r["s"]) / n
    cov = S / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, np.argsort(evals)[::-1][:2]]
    for k in range(2):  # canonical sign: first |component|>1e-12 > 0
        nz = np.nonzero(np.abs(top[:, k]) > 1e-12)[0]
        if len(nz) and top[nz[0], k] < 0:
            top[:, k] = -top[:, k]
    pc = [
        F.aggregate(
            F.zip_with(
                "vec",
                F.array(*[F.lit(float(w)) for w in top[:, k]]),
                lambda x, w: (x - F.lit(0.0)) * w,
            ),
            F.lit(float(-(mu @ top[:, k]))),  # center via constant shift
            lambda acc, t: acc + t,
        )
        for k in range(2)
    ]
    return vecs.select(
        "id",
        F.round(pc[0], 6).alias("pc1"),
        F.round(pc[1], 6).alias("pc2"),
    )


@register(
    "hard_negative_mining",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ADAPTIVE_CELL_SQL},
m AS (
  SELECT a1.vec_id, a1.cid, e.v AS vec, emb.label
  FROM a1 JOIN e USING (vec_id)
  JOIN embeddings emb ON emb.vec_id = a1.vec_id
),
scored AS (
  SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
         c.vec_id AS neg_id, c.label AS neg_label,
         {_COS_SQL} AS cos
  FROM m q JOIN m c
    ON q.cid = c.cid AND q.vec_id <> c.vec_id AND q.label <> c.label
)
SELECT anchor_id, anchor_label, neg_id, neg_label,
       CAST(rnk AS BIGINT) AS rank, cos
FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cos DESC, neg_id) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
    tags=("similarity", "llm", "contrastive"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    every anchor vector, the top-3 highest-cosine vectors with a
    DIFFERENT label — the near-misses that make the strongest
    training negatives — searched only within the anchor's
    hyperplane-signature cell (the SemDeDup partition trick with
    sign-LSH cells, width derived from corpus size — see
    _cell_bits).

    At 100 TB: assignment is embarrassingly parallel against the
    ~10 KB md5-derived weight literals, n · bits · d flops — LINEAR
    (the flat nearest-of-k assignment this replaced went quadratic
    once k tracked n: 37.9× wall at the third scale decade,
    SCALE.md); the candidate join is an equi-join on the cell id,
    and because cell count grows with n the within-cell work is
    n × _TARGET_CELL — never corpus-quadratic; the per-anchor top-3
    is a window partitioned by anchor over cell-bounded candidates.
    Cell-boundary negatives are missed — SemDeDup's documented
    recall trade, shared with semdedup_pairs.  Cosines rounded to 6
    while comparable so the rank order (cos desc, neg_id) is
    engine-identical; the oracle derives the same bit width from
    count(*)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # label is selected into e and rides the assignment's own
    # join-back (carry=) instead of a second corpus-scale vec_id
    # join (r14, VERDICT #6)
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )
    m = _assign_adaptive_cells(e, carry=("label",)).select(
        "cluster", "vec_id", "v", "nrm", "label"
    )
    scored = (
        _cell_pair_dots(m, with_labels=True)
        .filter(F.col("label_a") != F.col("label_b"))
        .select(
            F.col("id_a").alias("anchor_id"),
            F.col("label_a").alias("anchor_label"),
            F.col("id_b").alias("neg_id"),
            F.col("label_b").alias("neg_label"),
            F.round(
                F.col("dot") / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), "neg_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.col("rank").cast("long").alias("rank"),
            "cos",
        )
    )


@register(
    "label_noise_knn",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ADAPTIVE_CELL_SQL},
m AS (
  SELECT a1.vec_id, a1.cid, e.v AS vec, emb.label
  FROM a1 JOIN e USING (vec_id)
  JOIN embeddings emb ON emb.vec_id = a1.vec_id
),
nbr AS (
  SELECT q.vec_id, q.label,
         c.label AS nbr_label,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_COS_SQL} DESC, c.vec_id) AS rnk
  FROM m q JOIN m c ON q.cid = c.cid AND q.vec_id <> c.vec_id
)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       count(*) AS n_nbrs,
       CAST(sum(CASE WHEN nbr_label = label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       CAST(round(CAST(
         CAST(sum(CASE WHEN nbr_label = label THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS DECIMAL(18,12)), 6) AS DOUBLE) AS agree_rate,
       sum(CASE WHEN nbr_label = label THEN 1 ELSE 0 END) * 5
         < count(*) * 2 AS flagged
FROM nbr WHERE rnk <= 5
GROUP BY vec_id, label
""",
    tags=("similarity", "llm", "label-quality"),
)
def label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement audit: for every vector, the fraction of
    its 5 nearest neighbors (cosine, within its hyperplane-signature
    cell) that share its label — the standard pre-training
    label-noise detector (a row whose neighborhood disagrees,
    agree_rate < 0.4, is flagged for review before the dataset
    ships).

    Same cell-partitioned search as hard_negative_mining — the
    all-label twin: corpus-size-derived signature cells (see
    _cell_bits — assignment AND within-cell pairs stay LINEAR in n),
    one equi-join on the cell id, one per-anchor window,
    integer-ratio agreement rates (bit-identical doubles), and the
    flag threshold evaluated in integers (5 * n_agree < 2 * n_nbrs)
    so no float boundary exists at all.  The oracle derives the same
    bit width from count(*).

    The ranking has no pre-filter (unlike hard_negative_mining's
    different-label cut), so the per-cell stage pre-prunes to the
    provable rounded-top-5 superset (``prune_topk=5``, proof in
    _cell_pair_dots) — the pair shuffle is ~n*5 rows, not
    n*cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    # label rides the assignment's join-back (carry=), r14 VERDICT #6
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )
    m = _assign_adaptive_cells(e, carry=("label",)).select(
        "cluster", "vec_id", "v", "nrm", "label"
    )
    scored = _cell_pair_dots(m, with_labels=True, prune_topk=5).select(
        F.col("id_a").alias("vec_id"),
        F.col("label_a").alias("label"),
        F.col("id_b").alias("nbr_id"),
        F.col("label_b").alias("nbr_label"),
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), "nbr_id"
    )
    nbr = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 5
    )
    n_agree = F.sum(
        F.when(F.col("nbr_label") == F.col("label"), 1).otherwise(0)
    )
    n_nbrs = F.count(F.lit(1))
    return nbr.groupBy("vec_id", "label").agg(
        n_nbrs.alias("n_nbrs"),
        n_agree.cast("long").alias("n_agree"),
        F.round(
            (n_agree.cast("double") / n_nbrs.cast("double")).cast(
                "decimal(18,12)"
            ),
            6,
        )
        .cast("double")
        .alias("agree_rate"),
        (n_agree * 5 < n_nbrs * 2).alias("flagged"),
    ).select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        "n_nbrs",
        "n_agree",
        "agree_rate",
        "flagged",
    )


@register(
    "embedding_standardize",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
flat AS (
  SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i
  FROM e
),
s AS (
  SELECT i, count(*) AS n,
         SUM(CAST(x AS DECIMAL(25,10))) AS s1,
         SUM(CAST(x AS DECIMAL(15,10)) * CAST(x AS DECIMAL(15,10)))
           AS s2
  FROM flat GROUP BY i
),
st AS (
  SELECT i,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         sqrt(CAST(CAST(n AS DECIMAL(10,0)) * CAST(s2 AS DECIMAL(27,20))
                   - CAST(s1 AS DECIMAL(18,10))
                     * CAST(s1 AS DECIMAL(18,10)) AS DOUBLE)
              / CAST(n * n AS DOUBLE)) AS std
  FROM s
)
SELECT f.vec_id, CAST(f.i AS BIGINT) AS dim,
       CAST(round(CAST((f.x - st.mean) / st.std AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS z
FROM flat f JOIN st USING (i)
""",
    tags=("similarity", "llm", "feature-prep"),
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus
    (x - mean_dim) / std_dim — the feature-scaling pass run before
    clustering or linear probes so no dimension dominates by scale.
    Means and population stds come from one exact-DECIMAL sufficient-
    statistics aggregate (the stats_mergeable_moments machinery,
    per dimension); std's sqrt is IEEE-correctly-rounded, so both
    engines z-score identically.

    At 100 TB: the per-dim stats table is d = 64 rows — ONE scan to
    build, broadcast back for the (shuffle-free) standardize pass;
    the explode is a flatMap, never a shuffle.  Exactly the
    two-phase shape a feature pipeline wants: profile once, apply
    everywhere, stats table checkpointable for reuse across runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = (
        emb.select(
            "vec_id",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos", "x"),
        )
        .select("vec_id", (F.col("pos") + 1).cast("long").alias("dim"), "x")
    )
    s = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(25,10)")).alias("s1"),
        F.sum(
            F.col("x").cast("decimal(15,10)")
            * F.col("x").cast("decimal(15,10)")
        ).alias("s2"),
    )
    var_num = (
        F.col("n").cast("decimal(10,0)") * F.col("s2").cast("decimal(27,20)")
        - F.col("s1").cast("decimal(18,10)")
        * F.col("s1").cast("decimal(18,10)")
    ).cast("double")
    st = s.select(
        "dim",
        (F.col("s1").cast("double") / F.col("n").cast("double")).alias(
            "mean"
        ),
        F.sqrt(
            var_num / (F.col("n") * F.col("n")).cast("double")
        ).alias("std"),
    )
    return flat.join(F.broadcast(st), "dim").select(
        "vec_id",
        "dim",
        F.round(
            ((F.col("x") - F.col("mean")) / F.col("std")).cast(
                "decimal(18,12)"
            ),
            6,
        )
        .cast("double")
        .alias("z"),
    )


@register(
    "cluster_purity_eval",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SQL_SQDIST}, c.cid) AS rn
    FROM e CROSS JOIN c0 c) WHERE rn = 1
),
m AS (
  SELECT a1.vec_id, a1.cid, emb.label
  FROM a1 JOIN embeddings emb ON emb.vec_id = a1.vec_id
),
cont AS (
  SELECT cid, label, count(*) AS n FROM m GROUP BY cid, label
),
per_m AS (
  SELECT cid, label, n,
         row_number() OVER (PARTITION BY cid
                            ORDER BY n DESC, label) AS rn,
         SUM(n) OVER (PARTITION BY cid) AS nm
  FROM cont
),
per AS (
  SELECT cid, CAST(nm AS BIGINT) AS n_members,
         CAST(label AS BIGINT) AS majority_label,
         CAST(n AS BIGINT) AS n_majority
  FROM per_m WHERE rn = 1
),
tot AS (
  SELECT CAST(SUM(n_majority) AS BIGINT) AS maj,
         CAST(SUM(n_members) AS BIGINT) AS all_n
  FROM per
)
SELECT CAST(cid AS BIGINT) AS cluster, n_members, majority_label,
       n_majority,
       CAST(round(CAST(CAST(n_majority AS DOUBLE)
                       / CAST(n_members AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS purity,
       CAST(round(CAST(CAST(maj AS DOUBLE) / CAST(all_n AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS overall_purity
FROM per CROSS JOIN tot
""",
    tags=("similarity", "evaluation", "clustering"),
)
def cluster_purity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: per-cluster label purity
    (majority-label share) for the nearest-centroid partition, plus
    the overall purity — the sanity report before trusting cluster
    ids as curation units (SemDeDup cells, IVF lists, topic shards).
    Majority tie-break is (count desc, label asc), engine-pinned.

    At 100 TB: assignment is broadcast-literal parallel; the
    contingency table is one aggregate bounded by |clusters| x
    |labels|; everything after runs on that tiny table.  The
    measure-before-trust family, clustering edition.  Unlike the
    pair-emitting centroid-cell queries (which derive k from corpus
    size — see _TARGET_CELL), k = 8 here is the MODEL parameter
    under evaluation and nothing downstream is quadratic in cell
    size, so a fixed k is scale-safe."""
    k = 8
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c0 = [
        (r["vec_id"], list(r["v"]))
        for r in e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    m = _kmeans_assign(e, c0).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cont = m.groupBy(
        F.col("cluster").alias("cid"), "label"
    ).agg(F.count(F.lit(1)).alias("n"))
    wmaj = Window.partitionBy("cid").orderBy(
        F.col("n").desc(), "label"
    )
    wsum = Window.partitionBy("cid")
    per = (
        cont.withColumn("rn", F.row_number().over(wmaj))
        .withColumn("nm", F.sum("n").over(wsum))
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            F.col("nm").cast("long").alias("n_members"),
            F.col("label").cast("long").alias("majority_label"),
            F.col("n").cast("long").alias("n_majority"),
        )
    )
    tot = per.agg(
        F.sum("n_majority").cast("long").alias("maj"),
        F.sum("n_members").cast("long").alias("all_n"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("cid").cast("long").alias("cluster"),
        "n_members",
        "majority_label",
        "n_majority",
        F.round(
            (
                F.col("n_majority").cast("double")
                / F.col("n_members").cast("double")
            ).cast("decimal(18,12)"),
            6,
        )
        .cast("double")
        .alias("purity"),
        F.round(
            (F.col("maj").cast("double") / F.col("all_n").cast("double")).cast(
                "decimal(18,12)"
            ),
            6,
        )
        .cast("double")
        .alias("overall_purity"),
    )


@register(
    "embedding_norm_audit",
    oracle="""
WITH n AS (
  SELECT vec_id,
         len(embedding) AS dim,
         len(list_filter(embedding::DOUBLE[], x -> isnan(x)))
           AS n_nan_elems,
         sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                      x -> x * x))) AS nrm
  FROM embeddings
),
d AS (
  SELECT vec_id, dim, n_nan_elems, nrm,
         round(CAST(abs(nrm - 1.0) AS DECIMAL(18,15)), 12) AS dev
  FROM n
)
SELECT count(*) AS n_vecs,
       CAST(count(CASE WHEN dim = 64 THEN 1 END) AS BIGINT) AS n_dim64,
       CAST(count(CASE WHEN n_nan_elems > 0 THEN 1 END) AS BIGINT)
         AS n_nonfinite,
       CAST(count(CASE WHEN dev <= 0.000001 THEN 1 END) AS BIGINT)
         AS n_unit_tol,
       CAST(round(max(dev), 9) AS DOUBLE) AS max_dev,
       CAST(round(CAST(SUM(CAST(dev AS DECIMAL(28,12))) AS DOUBLE)
                  / count(*), 9) AS DOUBLE) AS mean_dev
FROM d
""",
    tags=("similarity", "data-quality", "vectors"),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector data-quality audit: dimension conformance, NaN
    elements, and unit-norm deviation stats over the embedding
    corpus — the dq_expectations of the vector world (a handful of
    zero or denormalized vectors silently poison cosine ANN and
    k-means, so this gate runs before any index build).

    Norms are per-row sequential folds (identical evaluation order
    in both engines — the _COS_SQL precedent), deviations rounded
    while DECIMAL before the exact mean sum.  One shuffle-free scan
    into a single aggregate row."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    d = emb.select(
        F.size("embedding").alias("dim"),
        F.size(F.filter(v, lambda x: F.isnan(x))).alias("n_nan_elems"),
        F.round(
            F.abs(nrm - F.lit(1.0)).cast("decimal(18,15)"), 12
        ).alias("dev"),
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count(F.when(F.col("dim") == 64, 1)).cast("long").alias("n_dim64"),
        F.count(F.when(F.col("n_nan_elems") > 0, 1))
        .cast("long")
        .alias("n_nonfinite"),
        F.count(F.when(F.col("dev") <= 0.000001, 1))
        .cast("long")
        .alias("n_unit_tol"),
        F.round(F.max("dev"), 9).cast("double").alias("max_dev"),
        F.round(
            F.sum(F.col("dev").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            9,
        )
        .cast("double")
        .alias("mean_dev"),
    )


@register(
    "ann_index_balance",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < 8),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SQL_SQDIST}, c.cid) AS rn
    FROM e CROSS JOIN c0 c) WHERE rn = 1
),
sizes AS (
  SELECT c0.cid, CAST(coalesce(s.n, 0) AS BIGINT) AS list_size
  FROM c0 LEFT JOIN (
    SELECT cid, count(*) AS n FROM a1 GROUP BY cid) s
  ON c0.cid = s.cid
),
tot AS (
  SELECT CAST(SUM(list_size) AS BIGINT) AS n_vecs,
         CAST(count(*) AS BIGINT) AS n_lists,
         CAST(max(list_size) AS BIGINT) AS max_sz,
         CAST(SUM(CASE WHEN list_size = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_empty
  FROM sizes
)
SELECT CAST(s.cid AS BIGINT) AS list_id, s.list_size,
       CAST(round(CAST(CAST(s.list_size AS DOUBLE)
                       * CAST(t.n_lists AS DOUBLE)
                       / CAST(t.n_vecs AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS load_factor,
       CAST(round(CAST(CAST(t.max_sz AS DOUBLE)
                       * CAST(t.n_lists AS DOUBLE)
                       / CAST(t.n_vecs AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS imbalance,
       t.n_empty
FROM sizes s CROSS JOIN tot t
""",
    tags=("similarity", "ann", "index-health"),
)
def ann_index_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health report: per-list sizes, load factor
    (size / mean), the index-wide imbalance ratio (max / mean), and
    the empty-list count for the nearest-centroid partition — the
    diagnostic read before trusting an IVF index's latency (a hot
    list serves most probes at max-list cost; empty lists waste
    nprobe budget).  Every ratio is an integer-ratio double.

    At 100 TB: assignment is broadcast-literal parallel; the size
    histogram is one k-row aggregate and the report is arithmetic
    over it — index health costs one scan regardless of k."""
    k = 8
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c0 = [
        (r["vec_id"], list(r["v"]))
        for r in e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    assigned = _kmeans_assign(e, c0)
    sz = assigned.groupBy(F.col("cluster").alias("list_id")).agg(
        F.count(F.lit(1)).alias("n")
    )
    lists = spark.createDataFrame(
        [(cid,) for cid, _ in c0], "list_id int"
    )
    sizes = lists.join(F.broadcast(sz), "list_id", "left").select(
        F.col("list_id").cast("long").alias("list_id"),
        F.coalesce("n", F.lit(0)).cast("long").alias("list_size"),
    )
    tot = sizes.agg(
        F.sum("list_size").cast("long").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.max("list_size").cast("long").alias("max_sz"),
        F.sum(F.when(F.col("list_size") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_empty"),
    )
    load = (
        F.col("list_size").cast("double")
        * F.col("n_lists").cast("double")
        / F.col("n_vecs").cast("double")
    )
    imb = (
        F.col("max_sz").cast("double")
        * F.col("n_lists").cast("double")
        / F.col("n_vecs").cast("double")
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "list_id",
        "list_size",
        F.round(load.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("load_factor"),
        F.round(imb.cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("imbalance"),
        "n_empty",
    )


@register(
    "embedding_distance_histogram",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id < 200
),
pairs AS (
  SELECT q.vec_id AS id_a, c.vec_id AS id_b,
         round(list_sum(list_transform(range(1, 65),
                   i -> q.v[i] * c.v[i]))
               / (sqrt(list_sum(list_transform(range(1, 65),
                          i -> q.v[i] * q.v[i])))
                * sqrt(list_sum(list_transform(range(1, 65),
                           i -> c.v[i] * c.v[i])))), 6) AS cos
  FROM e q JOIN e c ON q.vec_id < c.vec_id
),
b AS (
  SELECT least(19, greatest(0,
           CAST(floor((cos + 1.0) * 10.0) AS BIGINT))) AS bin,
         cos
  FROM pairs
),
tot AS (SELECT count(*) AS n FROM b)
SELECT CAST(bin AS BIGINT) AS bin,
       count(*) AS n_pairs,
       CAST(round(CAST(CAST(count(*) AS DOUBLE) / CAST(t.n AS DOUBLE)
                  AS DECIMAL(18,12)), 6) AS DOUBLE) AS share,
       CAST(round(min(cos), 6) AS DOUBLE) AS min_cos,
       CAST(round(max(cos), 6) AS DOUBLE) AS max_cos
FROM b CROSS JOIN tot t
GROUP BY bin, t.n
""",
    tags=("similarity", "evaluation", "quarantined-sample"),
)
def embedding_distance_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise-cosine histogram of a bounded 200-vector sample
    (20 bins over [-1, 1]) — the distribution you plot BEFORE tuning
    any LSH/IVF knob: where the neighbor mass sits relative to the
    bulk determines bits-per-band and nprobe (lsh_s_curve then
    validates the chosen banding; this histogram says what to
    choose).

    The all-pairs term is QUARANTINED to the fixed sample (the
    lsh_s_curve/cosine_neardup_pairs convention) — distance
    profiling is a sampling problem by nature; the sample bound, not
    the corpus, sizes the quadratic.  Bin indices are floor() over
    identical rounded doubles — engine-identical."""
    from distributed_system_spark.operators.similarity import cosine

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
    )
    binned = pairs.select(
        F.least(
            F.lit(19),
            F.greatest(
                F.lit(0),
                F.floor((F.col("cos") + F.lit(1.0)) * F.lit(10.0)).cast(
                    "long"
                ),
            ),
        ).alias("bin"),
        "cos",
    )
    tot = binned.agg(F.count(F.lit(1)).alias("n"))
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("bin", "n")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                (
                    F.count(F.lit(1)).cast("double")
                    / F.col("n").cast("double")
                ).cast("decimal(18,12)"),
                6,
            )
            .cast("double")
            .alias("share"),
            F.round(F.min("cos"), 6).cast("double").alias("min_cos"),
            F.round(F.max("cos"), 6).cast("double").alias("max_cos"),
        )
        .select("bin", "n_pairs", "share", "min_cos", "max_cos")
    )


# -- production near-dup (planted-truth corpus) ----------------------

# The shipped synthetic corpus has NO pairs above cosine 0.6, so the
# production dedup regime (threshold ~0.95, 16-20 bits/band) would be
# vacuously green on it.  lsh_neardup_prod therefore PLANTS its truth:
# a deterministic ~2.7% of ids (id % 37 == 0) get a twin vector
# unit(v) + 0.22 * unit(g), where g's 64 components are the first hex
# digit of md5("<id>:<dim>") mapped to [-7.5, 7.5] — the same
# engine-portable md5-constant trick as the hyperplane weights above,
# so the oracle rebuilds the twins bit-for-bit.  cos(v, twin) =
# 1/sqrt(1 + eps^2) + O(u.g) >= 0.955, comfortably above the 0.95
# threshold, while twin-twin and twin-other cosines stay at corpus
# background level (< 0.7).
_PLANT_MOD = 37
_PLANT_EPS = 0.22


def _planted_twins(vecs: DataFrame) -> DataFrame:
    """Deterministic near-dup twins of ids divisible by _PLANT_MOD.

    Twin id = -(id + 1) (disjoint from non-negative base ids).  All
    arithmetic accumulates per-DIMENSION in IEEE left-to-right order
    (the oracle's list_sum fold), divisions and the eps multiply
    happen in the same sequence as the SQL expression, and the md5
    hex-digit weights are half-integers (exact in both decimal and
    binary float), so every twin component is bit-identical across
    engines."""
    import hashlib

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            keep = pdf[pdf["id"] % _PLANT_MOD == 0]
            if len(keep) == 0:
                continue
            ids, vecs_out = [], []
            for vid, vec in zip(keep["id"], keep["vec"]):
                v = np.asarray(vec, dtype=np.float64)
                nv = 0.0
                for d in range(64):
                    nv += v[d] * v[d]
                nv = math.sqrt(nv)
                g = np.empty(64, dtype=np.float64)
                for d in range(64):
                    h = hashlib.md5(
                        f"{int(vid)}:{d + 1}".encode()
                    ).hexdigest()
                    g[d] = int(h[0], 16) + 1 - 8.5
                ng = 0.0
                for d in range(64):
                    ng += g[d] * g[d]
                ng = math.sqrt(ng)
                w = np.empty(64, dtype=np.float64)
                for d in range(64):
                    w[d] = v[d] / nv + _PLANT_EPS * (g[d] / ng)
                ids.append(-(int(vid) + 1))
                vecs_out.append(w)
            yield pd.DataFrame({"id": ids, "vec": vecs_out})

    return vecs.mapInPandas(gen, schema="id long, vec array<double>")


_TWIN_SQL = """e AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
),
gw AS (
  SELECT id, vec,
         sqrt(list_sum(list_transform(range(1, 65),
             i -> vec[i] * vec[i]))) AS nv,
         sqrt(list_sum(list_transform(range(1, 65),
             i -> (strpos('0123456789abcdef',
                     substr(md5(CAST(id AS VARCHAR) || ':'
                                || CAST(i AS VARCHAR)), 1, 1)) - 8.5)
                  * (strpos('0123456789abcdef',
                     substr(md5(CAST(id AS VARCHAR) || ':'
                                || CAST(i AS VARCHAR)), 1, 1)) - 8.5)
             ))) AS ng
  FROM e WHERE id % 37 = 0
),
tw AS (
  SELECT -(id + 1) AS id,
         list_transform(range(1, 65),
           i -> vec[i] / nv + 0.22::DOUBLE *
                ((strpos('0123456789abcdef',
                    substr(md5(CAST(id AS VARCHAR) || ':'
                               || CAST(i AS VARCHAR)), 1, 1)) - 8.5)
                 / ng)) AS vec
  FROM gw
),
allv AS (SELECT * FROM e UNION ALL SELECT * FROM tw)"""


@register(
    "lsh_neardup_prod",
    oracle=f"""
WITH {_TWIN_SQL}
SELECT q.id AS id_a, c.id AS id_b, {_COS_SQL} AS cos
FROM allv q JOIN allv c ON q.id < c.id
WHERE {_COS_SQL} >= 0.95
""",
    tags=("similarity", "dedup", "production"),
)
def lsh_neardup_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION near-dup: threshold 0.95, 18 bits x 48 bands — the
    knob regime ``embedding_neardup``'s docstring prescribes for real
    dedup, on a corpus with planted md5-derived twins (see
    _planted_twins) so the truth set is non-empty at every SF.

    Candidates are ~bands/2^bits of n^2 (measured 5e-4 .. 7e-4 of
    n^2 across sf0.01-sf1, tools/neardup_decade.py) vs the full-recall
    demo's 3-bit banding; the oracle is the EXACT all-pairs answer, so
    a green row certifies 100% recall of the production knobs on this
    corpus — deterministic, because the hyperplanes are md5-derived
    (per-pair analytic miss probability at cos >= 0.955 is
    (1 - 0.93^18)^48 ~= 1e-7).  Scale: same banded plan as
    lsh_neardup_pairs — no CartesianProduct (plan-asserted), decade
    wall ratios in SCALE.md.

    The PINNED 18-bit width is part of this query's certified
    contract, not the production sizing rule: candidates are
    ~bands/2^bits of n^2, so any fixed width goes quadratic —
    measured 11.5x wall at the sf10 decade and out-of-disk at 2 M
    vectors (SCALE.md fourth decade).  This query is therefore the
    fixed-knob CONTRACT DEMO; the production entry point is
    ``lsh_neardup_adaptive`` below, which derives the width from the
    corpus count (bits = ceil(log2 n) + 6) — the sizing rule measured
    at 1.8x/2.7x/3.0x wall per 10x data across sf0.1 -> sf100e with
    recall >= 0.9977 at every decade (tools/neardup_decade.py,
    SCALE.md)."""
    base = _vecs(spark, sf_dir)
    aug = base.unionByName(_planted_twins(base))
    return lsh_neardup_pairs(aug, 0.95, bits_per_band=18, bands=48)


@register(
    "lsh_neardup_adaptive",
    oracle=f"""
WITH {_TWIN_SQL}
SELECT q.id AS id_a, c.id AS id_b, {_COS_SQL} AS cos
FROM allv q JOIN allv c ON q.id < c.id
WHERE {_COS_SQL} >= 0.95
""",
    tags=("similarity", "dedup", "production"),
)
def lsh_neardup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup entry point: same planted-twin corpus,
    threshold, and banded plan as ``lsh_neardup_prod``, but the band
    width is DERIVED FROM THE CORPUS COUNT instead of pinned:
    bits = max(18, ceil(log2 n) + 6), the sizing rule measured across
    four decades in tools/neardup_decade.py (wall 1.8x/2.7x/3.0x per
    10x data, recall 1.0000 -> 0.9977 at 2 M vectors) — where the
    pinned 18-bit contract demo goes quadratic (11.5x wall at sf10,
    out-of-disk at 2 M).  Expected candidates stay ~(n/64)*bands —
    LINEAR by construction, the same occupancy-tracking design as
    ``_cell_bits``.

    The width derivation is pure integer arithmetic —
    ``(n - 1).bit_length() + 6`` == ceil(log2 n) + 6 with no float
    log anywhere — computed from one driver-side metadata count of
    the base table (the planted twins are a deterministic test
    fixture; production sizing keys off the corpus).  The oracle is
    the EXACT all-pairs answer, so a green row certifies 100% recall
    of the derived width on this corpus — at the driver SFs the
    derived width floors at 18 (sf0.01: ceil(log2 2k)+6 = 17) and at
    sf0.1 it steps to 21, where recall against the exact oracle was
    re-measured green before registration (twins sit at cos ~ 0.977;
    per-pair analytic miss at 21 bits x 48 bands is ~5e-6).

    GATE SEMANTICS, stated precisely: the md5 hyperplanes are
    deterministic, so for a FIXED corpus the gate never flakes —
    recall is a property of (corpus, width), and re-runs are
    bit-identical.  Across corpus changes the guarantee is
    probabilistic, not pigeonhole: expected missed pairs =
    n_twins x ~5e-6 (~0.0007 at sf0.1's 135 twins, ~0.3 at 2 M
    vectors' 54k twins), so a future corpus regeneration could in
    principle turn the exact-equality gate red on a true-positive
    miss within the analytic bound.  The pinned planted-twin RECALL
    test (tests/test_llm_ops.py::
    test_lsh_neardup_adaptive_planted_twin_recall) is the
    tolerance-based arbiter for that event: recall >= 0.999 within
    bound means re-derive the width, not a plan defect (ADVICE r8).

    Scale: identical plan shape to lsh_neardup_pairs — banded
    signatures (shuffle-free), equi-join on (band, bucket), exact
    rounded-cosine verify; no CartesianProduct (plan-asserted in
    tests/test_plans.py)."""
    # Width from the RAW table count — parquet answers a bare count()
    # from footer metadata without executing the widen/cast pipeline
    # _vecs builds (measured: counting the widened frame re-ran the
    # whole repartition, ~9 s of pure overhead at sf0.01).
    n = load_table(spark, sf_dir, "embeddings").count()
    bits = max(18, (max(2, n) - 1).bit_length() + 6)
    base = _vecs(spark, sf_dir)
    aug = base.unionByName(_planted_twins(base))
    return lsh_neardup_pairs(aug, 0.95, bits_per_band=bits, bands=48)


# -- cross-snapshot ANN index maintenance ----------------------------

_IDX_BITS = 6  # frozen at index creation: 64 cells


@register(
    "ann_index_upsert",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
a1 AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                i -> (strpos('0123456789abcdef',
                        substr(md5(CAST(p.p AS VARCHAR) || ':'
                                   || CAST(i AS VARCHAR)), 1, 1))
                      - 8.5) * e.v[i])) > 0
              THEN CAST(pow(2.0, p.p) AS BIGINT) ELSE 0 END) AS INT)
           AS cell
  FROM e CROSS JOIN (SELECT unnest(range(0, 6)) AS p) p
  GROUP BY e.vec_id
),
n AS (
  SELECT vec_id,
         sqrt(list_sum(list_transform(range(1, 65),
             i -> v[i] * v[i]))) AS nrm
  FROM e
)
SELECT a1.cell,
       count(*) AS n_vecs,
       min(a1.vec_id) AS min_id,
       max(a1.vec_id) AS max_id,
       CAST(round(SUM(CAST(n.nrm AS DECIMAL(18,6))), 6) AS DOUBLE)
         AS sum_nrm
FROM a1 JOIN n USING (vec_id)
GROUP BY a1.cell
""",
    tags=("similarity", "ann", "incremental", "index"),
)
def ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot ANN index MAINTENANCE: day-0 vectors build a
    persisted hyperplane-cell postings index (cell, vec_id, nrm on
    parquet); the day-1 and day-2 deltas each assign ONLY their own
    vectors — history is never re-read, never re-assigned, exactly
    the way ``stream_dedup_sig_index`` maintains its signature index
    — and append their postings.  The returned per-cell stats come
    from the MERGED on-disk index, and the oracle recomputes them
    from scratch over all vectors in one pass: a green row certifies
    incremental-maintenance == full-rebuild, which holds because the
    quantizer (6 md5 hyperplanes -> 64 cells) is FROZEN at index
    creation — corpus-size-adaptive widths (``_assign_adaptive_cells``)
    are right for one-shot jobs but would invalidate standing
    postings, the IVF analog of never resizing a live hash ring.

    Scale: each delta pass is the linear n*bits*d signature
    assignment (mapInPandas, weights in the closure), postings append
    as day-partitioned parquet, and the stats merge is one
    partial-aggregated groupBy on ~64 cells.  Norm sums go through
    fixed-scale DECIMAL so the merge is order-insensitive
    (queries/_util.py contract)."""
    import functools

    from distributed_system_spark.concurrency import eager_all
    from distributed_system_spark.queries._util import dsum

    # a fresh root per build, so building the query again leaves an
    # earlier lazy frame readable
    root = fresh_dir("annidx")
    base = _vecs(spark, sf_dir).select(
        F.col("id").alias("vec_id"), F.col("vec").alias("v")
    )

    def _write_day(day: int) -> None:
        delta = base.filter(F.col("vec_id") % 3 == day)
        postings = _assign_cells_fixed(delta, _IDX_BITS).select(
            "vec_id",
            F.col("cluster").cast("int").alias("cell"),
            "nrm",
            F.lit(day).alias("day"),
        )
        postings.write.mode("overwrite").parquet(f"{root}/d{day}")

    # The three delta jobs are INDEPENDENT (each assigns and writes
    # only its own day's vectors to its own directory — overwrite
    # mode, no shared state), so they are submitted together
    # (concurrency.eager_all) and Spark schedules them concurrently:
    # the next day's tasks back-fill executors freed by the previous
    # day's tail (guide §2.6 "overlap independent jobs").  This is the
    # backfill/catch-up replay shape — in steady state each arriving
    # day still costs one linear delta pass, which is the property
    # the oracle certifies (merged postings == full rebuild), and
    # that certificate is unaffected by the submission order.
    # Measured warm at sf0.1: the three-day wall 2.9 s -> 1.9-2.6 s.
    eager_all(spark, *(functools.partial(_write_day, d) for d in range(3)))
    idx = spark.read.parquet(*[f"{root}/d{d}" for d in range(3)])
    return idx.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_id"),
        F.max("vec_id").alias("max_id"),
        dsum("nrm", scale=6, out=6).alias("sum_nrm"),
    )


_COS16_SQL = """
round(list_sum(list_transform(range(1, 17), i -> q.vec[i] * c.vec[i]))
      / (sqrt(list_sum(list_transform(range(1, 17), i -> q.vec[i] * q.vec[i])))
       * sqrt(list_sum(list_transform(range(1, 17), i -> c.vec[i] * c.vec[i])))),
      6)
"""


@register(
    "embedding_matryoshka_truncate",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec
           FROM embeddings),
full_r AS (
  SELECT q_id, n_id, rnk FROM (
    SELECT q.id AS q_id, c.id AS n_id,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {_COS_SQL} DESC, c.id) AS rnk
    FROM e q JOIN e c ON q.id < 10 AND c.id >= 10
  ) WHERE rnk <= 5
),
trunc_r AS (
  SELECT q_id, n_id FROM (
    SELECT q.id AS q_id, c.id AS n_id,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {_COS16_SQL} DESC, c.id) AS rnk
    FROM e q JOIN e c ON q.id < 10 AND c.id >= 10
  ) WHERE rnk <= 5
)
SELECT f.q_id,
       CAST(count(t.n_id) AS BIGINT) AS overlap_at_5,
       CAST(round(count(t.n_id) / 5.0, 2) AS DOUBLE) AS recall_at_5
FROM full_r f LEFT JOIN trunc_r t
  ON f.q_id = t.q_id AND f.n_id = t.n_id
GROUP BY f.q_id
""",
    tags=("similarity", "ann", "matryoshka"),
)
def embedding_matryoshka_truncate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATRYOSHKA truncation audit: how much top-5 retrieval quality
    survives keeping only the FIRST 16 of 64 dimensions — the
    measure-before-trust report for prefix-truncated (MRL-style)
    embeddings, where a 4x smaller index is bought with whatever
    recall this table shows.  Per query: overlap@5 between the
    full-dimension exact top-5 and the truncated top-5 (same
    deterministic n_id tiebreak on both sides).

    Scale shape: two brute-force rankings over the SAME bounded query
    set (10 queries — the ann_topk_cosine baseline shape), joined on
    (query, neighbor); at index scale the truncated ranking runs on
    the prefix-sliced vectors, 1/4 the bytes scanned, which is the
    point of the technique."""
    from distributed_system_spark.operators.similarity import (
        brute_force_topk,
    )

    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("id") < 10)
    c = vecs.filter(F.col("id") >= 10)
    full_r = brute_force_topk(q, c, k=5).select(
        "q_id", "n_id"
    )
    qt = q.select("id", F.slice("vec", 1, 16).alias("vec"))
    ct = c.select("id", F.slice("vec", 1, 16).alias("vec"))
    trunc_r = brute_force_topk(qt, ct, k=5).select(
        F.col("q_id").alias("tq"), F.col("n_id").alias("tn")
    )
    return (
        full_r.join(
            trunc_r,
            (F.col("q_id") == F.col("tq"))
            & (F.col("n_id") == F.col("tn")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("tn").cast("long").alias("overlap_at_5"),
            F.round(F.count("tn") / 5.0, 2)
            .cast("double")
            .alias("recall_at_5"),
        )
    )


@register(
    "semdedup_threshold_sweep",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ADAPTIVE_CELL_SQL},
m AS (SELECT a1.vec_id, a1.cid, e.v AS vec FROM a1 JOIN e USING (vec_id)),
p AS (
  SELECT {_COS_SQL} AS cos
  FROM m q JOIN m c ON q.cid = c.cid AND q.vec_id < c.vec_id
)
SELECT CAST(floor(cos * 20) AS BIGINT) AS bucket,
       count(*) AS n_pairs
FROM p WHERE cos >= 0.2
GROUP BY 1
""",
    tags=("similarity", "dedup", "calibration"),
)
def semdedup_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Threshold-calibration report for semantic dedup: how many
    within-cell pairs would each cosine cutoff remove?  One pass over
    the SAME cell-bounded pair set as semdedup_pairs, bucketed into
    0.05-wide cosine bins (bucket = floor(cos*20) on the rounded
    cosine — identical double arithmetic in both engines) — the
    operator a curator runs BEFORE committing to a threshold, instead
    of re-running the dedup per candidate cutoff (the same
    one-scan-many-thresholds shape as lsh_s_curve and
    minhash_calibration).

    At 100 TB: identical candidate plan to semdedup_pairs (signature
    cells + per-cell gram, never all-pairs); the sweep itself adds
    one integer groupBy over ~16 buckets."""
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
    pairs = _cell_pair_dots(m, with_labels=False)
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select(cos.alias("cos"))
        .filter(F.col("cos") >= 0.2)
        .groupBy(F.floor(F.col("cos") * 20).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "ann_mutual_knn_graph",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ADAPTIVE_CELL_SQL},
m AS (SELECT a1.vec_id, a1.cid, e.v AS vec FROM a1 JOIN e USING (vec_id)),
knn AS (
  SELECT q.vec_id AS id_a, c.vec_id AS id_b, {_COS_SQL} AS cos,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_COS_SQL} DESC, c.vec_id)
           AS rk
  FROM m q JOIN m c ON q.cid = c.cid AND q.vec_id != c.vec_id
)
SELECT f.id_a, f.id_b, f.cos
FROM knn f JOIN knn r ON f.id_a = r.id_b AND f.id_b = r.id_a
WHERE f.rk <= 5 AND r.rk <= 5 AND f.id_a < f.id_b
""",
    tags=("similarity", "ann", "graph"),
)
def ann_mutual_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction — the edge set behind
    density-based clustering and agreement-filtered near-dup review:
    an undirected edge (a, b) survives only if b is in a's top-5
    cosine neighbors AND a is in b's (mutuality prunes hub vectors
    that are 'near' everything — the classic kNN-graph asymmetry
    fix).  Neighborhoods are searched within hyperplane-signature
    cells (see _cell_bits), rank ties broken on the rounded cosine
    then neighbor id so both engines rank identically; the gram
    matrix is bitwise symmetric (IEEE multiply commutes, additions
    fold per dimension), so f/r cosines are equal exactly.

    At 100 TB: the per-cell gram stage pre-prunes each source's
    candidates to a provable superset of the rounded top-5
    (``_cell_pair_dots(prune_topk=5)`` — raw-cosine margin 2e-6, see
    its proof), so the pair shuffle feeding the ranking window is
    ~n*5 narrow rows, not n*cell (15x smaller measured at 2 M
    vectors); ranking/rounding/tie-breaks stay JVM-side on the
    superset, and the mutuality check is a self-equi-join on the
    (id, id) edge key — no stage touches n^2."""
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
    pairs = _cell_pair_dots(m, with_labels=False, prune_topk=5).select(
        "id_a",
        "id_b",
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("cos").desc(), "id_b"
    )
    # top feeds BOTH sides of the mutuality self-join; left lazy each
    # side re-ran the whole cell-assign + gram + ranking pipeline.
    # One checkpoint of the ~n*5 narrow edge rows bounds it (r13).
    top = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("id_a", "id_b", "cos")
        .localCheckpoint()
    )
    rev = top.select(
        F.col("id_a").alias("id_b"), F.col("id_b").alias("id_a")
    )
    return top.join(rev, ["id_a", "id_b"]).filter(
        F.col("id_a") < F.col("id_b")
    )


@register(
    "embedding_outlier_score",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
flat AS (
  SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
),
st AS (
  SELECT dim,
         CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / count(*)
           AS mu,
         CAST(SUM(CAST(x * x AS DECIMAL(25,10))) AS DOUBLE) / count(*)
           AS m2,
         count(*) AS n
  FROM flat GROUP BY dim
),
arrs AS (
  SELECT list(mu ORDER BY dim) AS mu,
         list(m2 - mu * mu ORDER BY dim) AS vr
  FROM st
)
SELECT e.vec_id,
       round(list_sum(list_transform(range(1, 65),
               i -> (e.v[i] - a.mu[i]) * (e.v[i] - a.mu[i]) / a.vr[i])),
             6) AS score
FROM e CROSS JOIN arrs a
""",
    tags=("similarity", "quality", "outlier"),
)
def embedding_outlier_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-vector outlier score — diagonal Mahalanobis distance
    sum_d (x_d - mu_d)^2 / var_d against the corpus's own per-dim
    moments — the embedding-space analog of z-score document-quality
    filtering (catches corrupt encoders, wrong-modality rows, and
    truncated vectors that L2-norm audits miss because their norm is
    ordinary).

    Parity spine: per-dim mean and raw second moment are EXACT
    DECIMAL(25,10) sums (parquet floats are exactly representable, so
    the cast rounds nothing and the sum is order-insensitive — the
    embedding_centroid_by_lang idiom), divided into identical doubles
    in both engines; the 64 (mu, var) doubles are then collected
    driver-side (bounded: exactly d rows, the k*d-centroid-literal
    idiom) and ride the closure of one Arrow pass whose per-DIMENSION
    accumulation replays the oracle's list_sum fold order
    bit-for-bit.

    At 100 TB: two scans (a mergeable 64-group moment aggregate, then
    a shuffle-free scoring map) — nothing quadratic, nothing wide on
    the driver.  The moment scan is widened ahead of the explode:
    decimal-exact sums cost ~25x a double sum per exploded row
    (measured 19.3 s vs 0.78 s on 12.8 M rows), so a narrow parquet
    layout serializes the one CPU-dense stage — widening took the
    third-decade wall from 16.2 s to ~4 s (5.5x -> ~1.5x per 10x
    data); decimal addition is exact and order-insensitive, so the
    round-robin exchange cannot change a single output bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    flat = widen_if_narrow(
        e, min_slot_bytes=WIDEN_SLOT_BYTES_DENSE
    ).select(
        F.posexplode("v").alias("pos", "x")
    ).select((F.col("pos") + 1).alias("dim"), "x")
    st = (
        flat.groupBy("dim")
        .agg(
            F.sum(F.col("x").cast("decimal(25,10)")).alias("s1"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(25,10)")).alias(
                "s2"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    # Mirror the oracle's operation ORDER exactly: exact decimal sum
    # -> cast to double (float(Decimal) is correctly rounded, the same
    # as CAST(S AS DOUBLE)) -> double division by n.  Dividing the
    # Decimal first would round at 28 significant digits instead and
    # can differ in the last ulp.
    mu = np.zeros(64)
    vr = np.zeros(64)
    for r in sorted(st, key=lambda r: r["dim"]):
        m = float(r["s1"]) / r["n"]
        mu[r["dim"] - 1] = m
        vr[r["dim"] - 1] = float(r["s2"]) / r["n"] - m * m
    del st

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf["v"].to_numpy())
            d0 = mat[:, 0] - mu[0]
            acc = d0 * d0 / vr[0]
            for i in range(1, mat.shape[1]):
                di = mat[:, i] - mu[i]
                acc = acc + di * di / vr[i]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "score": acc,
                }
            )

    # Round JVM-side: numpy's round is half-to-even while Spark and
    # DuckDB both round half away from zero — emit the raw double
    # (bit-exact through Arrow) and let the engines round identically.
    return e.mapInPandas(
        score_batches, "vec_id long, score double"
    ).select("vec_id", F.round("score", 6).alias("score"))


@register(
    "semdedup_keep_best",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ADAPTIVE_CELL_SQL},
m AS (SELECT a1.vec_id, a1.cid, e.v AS vec FROM a1 JOIN e USING (vec_id)),
p AS (
  SELECT q.vec_id AS id_a, c.vec_id AS id_b, {_COS_SQL} AS cos,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> q.vec[i] * q.vec[i]))) AS na,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> c.vec[i] * c.vec[i]))) AS nb
  FROM m q JOIN m c ON q.cid = c.cid AND q.vec_id < c.vec_id
  WHERE {_COS_SQL} >= 0.4
),
l AS (
  SELECT CASE WHEN na < nb OR (na = nb AND id_a > id_b)
              THEN id_a ELSE id_b END AS vec_id,
         cos
  FROM p
)
SELECT vec_id, count(*) AS n_pairs_lost, max(cos) AS best_cos
FROM l GROUP BY vec_id
""",
    tags=("similarity", "dedup", "semdedup"),
)
def semdedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP DECISION on top of ``semdedup_pairs``: for every
    within-cell near-dup pair (cosine >= 0.4), the member with the
    SMALLER L2 norm loses (ties break to the higher vec_id losing) —
    the SemDeDup paper's keep-one rule with the norm as the quality
    proxy (low-norm embeddings correlate with short/degenerate
    inputs).  Output is the DROP LIST: each losing vector with how
    many pairs it lost and the strongest duplicate evidence against
    it — the artifact a curation pass actually applies, where
    semdedup_pairs is the diagnostic.

    Determinism across engines: both sides compute the norm with the
    SAME left-to-right IEEE fold (Spark's per-dimension accumulation
    mirrors DuckDB's list_sum order bit-for-bit — the _COS_SQL
    contract), so the na < nb comparison is exact, and the tie rule
    is pure integer.  Scale: identical plan to semdedup_pairs (the
    FULL within-cell pair set is required — the top-k prune is
    deliberately NOT applied, same as the pair query) plus one
    groupBy on the loser id."""
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
    pairs = _cell_pair_dots(m, with_labels=False).filter(
        F.col("id_a") < F.col("id_b")
    )
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    scored = pairs.select(
        "id_a", "id_b", "na", "nb", cos.alias("cos")
    ).filter(F.col("cos") >= 0.4)
    loser = F.when(
        (F.col("na") < F.col("nb"))
        | ((F.col("na") == F.col("nb")) & (F.col("id_a") > F.col("id_b"))),
        F.col("id_a"),
    ).otherwise(F.col("id_b"))
    return (
        scored.select(loser.alias("vec_id"), "cos")
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs_lost"),
            F.max("cos").alias("best_cos"),
        )
    )


@register(
    "ann_prefilter_vs_postfilter",
    oracle=f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec, label
           FROM embeddings),
pre AS (
  SELECT q_id, n_id FROM (
    SELECT q.id AS q_id, c.id AS n_id,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {_COS_SQL} DESC, c.id) AS rnk
    FROM e q JOIN e c ON q.id < 10 AND c.id >= 10
                     AND c.label = q.label
  ) WHERE rnk <= 5
),
post20 AS (
  SELECT q_id, n_id, n_label, q_label, rnk FROM (
    SELECT q.id AS q_id, c.id AS n_id, c.label AS n_label,
           q.label AS q_label,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {_COS_SQL} DESC, c.id) AS rnk
    FROM e q JOIN e c ON q.id < 10 AND c.id >= 10
  ) WHERE rnk <= 20
),
post AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY rnk) AS prnk
    FROM post20 WHERE n_label = q_label
  ) WHERE prnk <= 5
)
SELECT p.q_id,
       CAST(count(po.n_id) AS BIGINT) AS overlap_at_5,
       CAST(round(CAST(count(po.n_id) / 5.0 AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS recall_at_5
FROM pre p LEFT JOIN post po
  ON p.q_id = po.q_id AND p.n_id = po.n_id
GROUP BY p.q_id
""",
    tags=("similarity", "ann", "filtered-search"),
)
def ann_prefilter_vs_postfilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED vector search audit — pre-filter vs post-filter, the
    decision every metadata-constrained ANN deployment faces: for
    each query (id < 10), the SAME-LABEL top-5 computed the exact way
    (pre-filter: restrict the corpus to the query's label, THEN rank)
    is compared against the cheap way (post-filter: take the
    unfiltered top-20, keep label matches, truncate to 5).
    Per query: how many survivors post-filtering even finds, and its
    recall against the pre-filtered truth — the measured price of
    post-filtering when the filter is selective (the known failure:
    a 1%-selective filter leaves ~0.2 label matches in a top-20).

    Scale shape: the pre-filter side joins query and corpus on the
    label EQUI-key before ranking (a real index prunes to the label's
    postings — this is that plan's brute-force stand-in); the
    post-filter side is the bounded-query-set brute-force ranking
    (broadcast 10 queries, one corpus scan, per-query top-k window);
    the comparison join is equi on (query, neighbor)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = _vecs(spark, sf_dir).join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    q = vecs.filter(F.col("id") < 10)
    c = vecs.filter(F.col("id") >= 10)

    from distributed_system_spark.operators.similarity import (
        brute_force_topk,
        cosine,
    )

    # pre-filter: label equi-join THEN per-query exact top-5.
    qj = q.select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), "label"
    )
    cj = c.select(
        F.col("id").alias("n_id"), F.col("vec").alias("n_vec"), "label"
    )
    scored = (
        F.broadcast(qj)
        .join(cj, "label")
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias(
                "cos"
            ),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "n_id")
    pre = (
        scored.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "n_id")
    )

    # post-filter: unfiltered exact top-20, label-filter, first 5.
    top20 = brute_force_topk(
        q.select("id", "vec"), c.select("id", "vec"), k=20
    )
    lbl = emb.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label"))
    qlbl = emb.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    wp = Window.partitionBy("q_id").orderBy("rnk")
    post = (
        top20.join(F.broadcast(lbl), "n_id")
        .join(F.broadcast(qlbl), "q_id")
        .filter(F.col("n_label") == F.col("q_label"))
        .withColumn("prnk", F.row_number().over(wp))
        .filter(F.col("prnk") <= 5)
        .select("q_id", F.col("n_id").alias("post_id"))
    )
    return (
        pre.join(
            post,
            (pre["q_id"] == post["q_id"])
            & (pre["n_id"] == post["post_id"]),
            "left",
        )
        .drop(post["q_id"])
        .groupBy("q_id")
        .agg(
            F.count("post_id").cast("long").alias("overlap_at_5"),
            F.round(
                (F.count("post_id") / 5.0).cast("decimal(18,12)"), 6
            )
            .cast("double")
            .alias("recall_at_5"),
        )
    )

"""LLM-pipeline similarity search over the embeddings table
(``embedding: array<float>``, dim=64).

- ``q_llm_embed_norm``: L2 norms via the higher-order ``aggregate``
  fold — JVM-side, no UDF.
- ``q_llm_multimodal_join``: text ⋈ embedding on doc_id=vec_id — the
  multimodal-column pattern (typed metadata next to an opaque payload).
- ``q_llm_cosine_topk``: brute-force cosine top-k (the correctness
  baseline). The scale path is ``q_llm_lsh_topk``: sign-random-projection
  LSH buckets from deterministic hash-derived hyperplanes; candidates
  only ever join within a bucket, so cost is Σ bucket² ≪ n².
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ex_hivent_spark.catalog import load_table
from ex_hivent_spark.functions.decimals import DEC, dround, sql_dround
from ex_hivent_spark.plans.registry import register

TOP_K = 5


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product as a pure Catalyst expression (sequential HOF fold —
    order deterministic). Spark evaluates HOF lambdas INTERPRETED per
    element, so this form is the slow path; it exists for contexts that
    require an expression-only Column (inside another HOF lambda, where
    a Python-UDF Column cannot appear). Hot paths use :func:`dot`."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_expr(a: Column) -> Column:
    """Expression-only twin of :func:`l2_norm` (see :func:`dot_expr`)."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _seq_fold_sum(prods) -> "object":
    """Sequential IEEE left-fold sum of each row of a 2-D float64 array,
    INCLUDING the fold's 0.0 init term: ``np.add.accumulate`` computes
    p0, p0+p1, ... in index order (no pairwise re-association), and the
    closing ``+ 0.0`` reproduces the init's only observable effect —
    the fold's 0.0 + p0 normalizes a -0.0 result to +0.0, and IEEE
    x + (+0.0) is the identity for every other x — so the result is
    bit-identical to ``F.aggregate(ps, lit(0.0), acc + v)``."""
    if prods.shape[1] == 0:
        return np.zeros(prods.shape[0], dtype=np.float64)
    return np.add.accumulate(prods, axis=1)[:, -1] + 0.0


def _stack64(s: "pd.Series"):
    """(n, d) float64 matrix from a pandas Series of equal-length
    numeric sequences — ONE C-level conversion per Arrow batch (the
    per-row .iloc walk this replaced dominated the first cut of the
    r14 swap). Returns None when rows are ragged."""
    try:
        out = np.array(s.tolist(), dtype=np.float64)
    except ValueError:  # ragged batch
        return None
    return out if out.ndim == 2 else None


def _has_none(row) -> bool:
    """True when a non-null array row carries an element-level None —
    zip_with/transform yield NULL there, while a bare numpy conversion
    would silently coerce it to NaN."""
    return any(e is None for e in row)


def _pairwise_pd(fn):
    """Build a pandas UDF over two float-array columns that mirrors the
    null semantics of the HOF fold: null if either array is null, the
    lengths differ (zip_with pads with null, poisoning the fold), or an
    ELEMENT is null (the fold's acc + null is null — numpy would coerce
    it to NaN, so the fast path is only taken when the stacked batch is
    NaN-free, and the fallback scans rows for None explicitly; a real
    NaN float still computes to NaN, matching the fold). The no-null
    uniform-length fast path (every batch in practice — fixed embedding
    dim) is fully vectorized; ragged/null/NaN batches fall back to
    per-row numpy."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        na = a.isnull().values
        nb = b.isnull().values
        if not na.any() and not nb.any():
            A = _stack64(a)
            B = _stack64(b)
            if (
                A is not None
                and B is not None
                and A.shape == B.shape
                and not np.isnan(A).any()
                and not np.isnan(B).any()
            ):
                return pd.Series(fn(A, B))
        out = [None] * len(a)
        av = a.values
        bv = b.values
        for i in range(len(a)):
            if na[i] or nb[i] or _has_none(av[i]) or _has_none(bv[i]):
                continue
            x = np.asarray(av[i], dtype=np.float64)
            y = np.asarray(bv[i], dtype=np.float64)
            if x.shape != y.shape:
                continue
            out[i] = float(fn(x.reshape(1, -1), y.reshape(1, -1))[0])
        return pd.Series(out, dtype=object)

    return udf


_DOT_PD = None
_UNIT_PD = None


def _dot_pd():
    global _DOT_PD
    if _DOT_PD is None:
        _DOT_PD = _pairwise_pd(lambda A, B: _seq_fold_sum(A * B))
    return _DOT_PD


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns — Arrow pandas UDF whose
    per-row value is BIT-IDENTICAL to the sequential HOF fold
    (:func:`dot_expr`): float64-cast products, then a numpy
    ``add.accumulate`` left-fold (cumsum IS the IEEE sequential fold;
    see _seq_fold_sum). Swapped from the interpreted HOF form in r14:
    Spark evaluates HOF lambdas per-element interpreted (the r13-anchor
    ×12-30 embedding-family tax), while this path scores whole Arrow
    batches at C speed. Zero oracle changes — the DuckDB twins keep
    list_dot_product/list_sum, and the hash gate at 3 SFs is the
    IEEE-equivalence check."""
    return _dot_pd()(a, b)


def sq_norm(a: Column) -> Column:
    """Sequential-fold sum of squares (Arrow path; bit-exact twin of the
    HOF fold in :func:`l2_norm_expr` before its sqrt). The square-fold
    IS the dot fold with both sides the same array: zip_with(a, a)
    produces x*x per element in the same index order."""
    return _dot_pd()(a, a)


def l2_norm(a: Column) -> Column:
    """L2 norm via the Arrow fold; java Math.sqrt and np/JVM sqrt are
    both IEEE correctly-rounded, so composing F.sqrt outside the UDF
    keeps values bit-identical to :func:`l2_norm_expr`."""
    return F.sqrt(sq_norm(a))


def unit_vec(a: Column) -> Column:
    """Unit-normalize a float-array column in ONE Arrow pass:
    per element (double)x / l2_norm — IEEE divide and sqrt are
    correctly rounded, so each element is bit-identical to the
    ``F.transform(a, x -> x.cast(double) / l2_norm_expr(a))`` form this
    replaces (which paid TWO interpreted HOF walks per row). Null array
    -> null; an element-level null poisons the norm fold, so every
    output element is null (an array of nulls, same length — exactly
    the expression form; the fast path refuses NaN-bearing batches so
    numpy's None->NaN coercion can never leak); zero-norm rows divide
    to ±inf/nan exactly as the expression form does."""
    global _UNIT_PD
    if _UNIT_PD is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<double>")
        def udf(col: pd.Series) -> pd.Series:
            nulls = col.isnull().values
            if not nulls.any():
                A = _stack64(col)
                if A is not None and A.shape[1] > 0 and not np.isnan(A).any():
                    U = A / np.sqrt(_seq_fold_sum(A * A))[:, None]
                    return pd.Series(list(U))
            out = [None] * len(col)
            cv = col.values
            for i in range(len(col)):
                if nulls[i]:
                    continue
                if _has_none(cv[i]):
                    out[i] = [None] * len(cv[i])
                    continue
                x = np.asarray(cv[i], dtype=np.float64)
                if x.size == 0:
                    out[i] = x
                else:
                    p = x.reshape(1, -1)
                    out[i] = x / np.sqrt(_seq_fold_sum(p * p)[0])
            return pd.Series(out, dtype=object)

        _UNIT_PD = udf
    return _UNIT_PD(a)


_PROJ_PD: dict = {}


def projections(a: Column, planes: tuple) -> Column:
    """All hyperplane projections of a float-array column in ONE Arrow
    pass (array<double>, one sequential-fold dot per plane — each entry
    bit-identical to ``dot(a, F.lit(plane))``). The multi-plane sites
    (sign-LSH bit maps, JL transforms) previously paid one HOF fold per
    plane; a per-plane pandas UDF would instead ship the input array
    once PER PLANE, so the fused form also cuts the Arrow transfer by
    |planes|×. ``planes`` must be a tuple-of-tuples (hashable — the UDF
    is cached per plane set)."""
    if planes not in _PROJ_PD:
        from pyspark.sql.functions import pandas_udf

        P = [list(row) for row in planes]

        @pandas_udf("array<double>")
        def udf(col: pd.Series) -> pd.Series:
            M = np.asarray(P, dtype=np.float64)
            nulls = col.isnull().values
            if not nulls.any():
                A = _stack64(col)
                if (
                    A is not None
                    and A.shape[1] == M.shape[1]
                    and not np.isnan(A).any()
                ):
                    cols = [_seq_fold_sum(A * M[k]) for k in range(M.shape[0])]
                    out = np.column_stack(cols)
                    return pd.Series(list(out))
            res = [None] * len(col)
            cv = col.values
            for i in range(len(col)):
                if nulls[i]:
                    continue
                # element-level null poisons every per-plane fold ->
                # an array of n_planes nulls (the per-plane dot_expr
                # form); NaN floats still compute to NaN normally.
                if _has_none(cv[i]):
                    res[i] = [None] * M.shape[0]
                    continue
                x = np.asarray(cv[i], dtype=np.float64)
                if x.shape[0] != M.shape[1]:
                    continue
                p = x.reshape(1, -1)
                res[i] = np.array(
                    [_seq_fold_sum(p * M[k])[0] for k in range(M.shape[0])]
                )
            return pd.Series(res, dtype=object)

        _PROJ_PD[planes] = udf
    return _PROJ_PD[planes](a)


def np_unit(v) -> "np.ndarray":
    """Driver-side unit-normalize of one raw vector with the exact
    engine arithmetic (float64 cast, sequential square fold, IEEE
    sqrt/divide) — for preparing a collected query set for
    :func:`exact_scores` without materializing unit vectors for the
    whole corpus first."""
    x = np.asarray(v, dtype=np.float64).reshape(1, -1)
    return (x / np.sqrt(_seq_fold_sum(x * x))[:, None])[0]


def exact_scores(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list,
    *,
    normalize: bool = False,
    carry: tuple = (),
    n_partitions: int | None = None,
) -> DataFrame:
    """Exact dot scores of a BOUNDED query set against the whole corpus
    — the scale-correct shape for every exact-scoring retrieval audit:
    the query matrix (collected by the caller) ships ONCE per executor
    as a Spark broadcast variable (torrent-distributed — not re-shipped
    per task, and never serialized into the closure, so the uncapped
    n/50-sampled callers don't grow task payloads), the corpus streams
    through ONCE as Arrow batches, and only the (query_id, neighbor_id,
    dot) triples come back — never per-pair vector copies. Replaces the
    r13 broadcast-join + per-pair dot() form whose Arrow transfer
    carried BOTH 64-dim vectors for every pair (the dominant cost in
    first r14 anchor, commit 4e1963e).

    Each dot is the sequential IEEE fold (:func:`_seq_fold_sum`), so
    values stay bit-identical to ``dot(qu, u)`` and to the oracles'
    list_dot_product. ``queries`` is [(query_id, float64 vector), ...];
    an EMPTY list returns an empty DataFrame of the declared schema
    (the broadcast-join form's degenerate result). With
    ``normalize=True`` corpus rows are unit-normalized in the same
    pass (the :func:`unit_vec` arithmetic — callers then pass np_unit'd
    query vectors). Null, wrong-length, or NaN/None-element corpus
    vectors are SKIPPED (the join form emitted element-None rows with
    a NULL dot, which every downstream caller filters/top-ks away;
    Arrow materializes list nulls as NaN at this boundary, so the NaN
    and None classes are deliberately coalesced — a NaN dot would
    otherwise sort FIRST in the callers' cosine-desc top-k windows).
    ``carry`` = ((col, sparktype), ...) corpus columns replicated onto
    each output pair (e.g. sign masks). Self-pairs are NOT excluded —
    filter query_id != neighbor_id downstream.

    At 100 TB: one narrow map stage over the corpus against a fixed
    O(|Q|·dim) per-executor matrix; output is |Q|× the corpus row count
    of 24-byte rows — shuffle-free until the caller's own top-k. The
    boundedness of |Q| is the CALLER's contract: most sites cap with
    limit(); the three n/50-sampled recall audits are O(n/50) by
    design and document that at the call site."""
    carry_names = [c for c, _ in carry]
    schema = "query_id bigint, neighbor_id bigint, dot double" + "".join(
        f", {c} {t}" for c, t in carry
    )
    spark = corpus.sparkSession
    if not queries:
        return spark.createDataFrame([], schema)
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    Q = np.stack([np.asarray(q[1], dtype=np.float64) for q in queries])
    bq = spark.sparkContext.broadcast((qids, Q))

    def fn(batches):
        bqids, bQ = bq.value
        m = len(bqids)
        dim = bQ.shape[1]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = pdf[vec_col]
            try:
                A = np.array(vals.tolist(), dtype=np.float64)
                ok = A.ndim == 2 and A.shape[1] == dim
            except (ValueError, TypeError):
                ok = False
            if not ok:  # null/ragged rows present — keep the valid ones
                rows = vals.tolist()
                keep = np.fromiter(
                    (r is not None and len(r) == dim for r in rows),
                    dtype=bool,
                    count=len(rows),
                )
                if not keep.any():
                    continue
                pdf = pdf[keep]
                A = np.array(
                    [r for r, k in zip(rows, keep) if k], dtype=np.float64
                )
            # r16 ADVICE fix: a right-length row carrying an
            # element-level None passes the length filter, and at the
            # mapInPandas boundary Arrow materializes list<double>
            # nulls as NaN in a float64 ndarray — None and NaN are ONE
            # indistinguishable class here (measured; unlike the
            # pandas_udf fold wrappers, which see the original lists).
            # The join+dot form this replaced produced a NULL dot for
            # the None case, which the callers' top-k filters drop —
            # whereas a NaN dot sorts FIRST in cosine-desc windows. So
            # the whole NaN-bearing class is skipped, matching the
            # documented skip contract. Vectorized; no cost on clean
            # batches beyond one isnan scan.
            nan_rows = np.isnan(A).any(axis=1)
            if nan_rows.any():
                if nan_rows.all():
                    continue
                pdf = pdf[~nan_rows]
                A = A[~nan_rows]
            n = len(pdf)
            if normalize:
                A = A / np.sqrt(_seq_fold_sum(A * A))[:, None]
            ids = pdf[id_col].values.astype(np.int64)
            out = {
                "query_id": np.repeat(bqids, n),
                "neighbor_id": np.tile(ids, m),
                "dot": np.concatenate(
                    [_seq_fold_sum(A * bQ[k]) for k in range(m)]
                ),
            }
            for c in carry_names:
                out[c] = np.tile(pdf[c].values, m)
            yield pd.DataFrame(out)

    sel = corpus.select(id_col, vec_col, *carry_names)
    # Parallelism rides the input splits (at scale, parquet's
    # maxPartitionBytes yields thousands); an explicit repartition is
    # opt-in only — the default shuffle cost pure overhead at gate SFs
    # and redundant at 100 TB.
    if n_partitions:
        sel = sel.repartition(n_partitions)
    return sel.mapInPandas(fn, schema)


@register(
    "q_llm_embed_norm",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS n_dims,
           floor(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000.0 + 0.5)
               / 1000000.0 AS l2_norm
    FROM embeddings
    """,
)
def q_llm_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (rounded to 6 — engines may associate the
    64-term float sum differently) + dimensionality check."""
    em = load_table(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        "label",
        F.size("embedding").alias("n_dims"),
        dround(l2_norm_expr(F.col("embedding")), 6).alias("l2_norm"),
    )


@register(
    "q_llm_multimodal_join",
    oracle="""
    SELECT doc_id, lang, source, n_chars, label,
           CAST(len(embedding) AS INTEGER) AS n_dims
    FROM documents JOIN embeddings ON doc_id = vec_id
    """,
)
def q_llm_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column join: document text/metadata ⋈ its embedding
    vector (doc_id = vec_id). The general pattern for image/audio
    payloads too — opaque column + typed metadata joined on id."""
    d = load_table(spark, sf_dir, "documents")
    em = load_table(spark, sf_dir, "embeddings")
    return d.join(em, d.doc_id == em.vec_id).select(
        "doc_id", "lang", "source", "n_chars", "label",
        F.size("embedding").alias("n_dims"),
    )


def _normalized(em: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Unit-normalize embeddings so cosine reduces to a dot product."""
    return em.select(
        F.col(id_col),
        unit_vec(F.col("embedding")).alias("unit"),
    )


from ex_hivent_spark.session_memo import session_memo  # noqa: E402


@session_memo
def _unit_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized, lazily-checkpointed (vec_id, unit) frame —
    the one normalization pass of the corpus that every IVF/PQ/kNN
    query in this module starts from (r16 OPTIMIZATION, the
    minhash_frames precedent): without it each query's codebook,
    assignment, sub-vector, and probe subtrees re-ran the Arrow
    normalize per subtree (a broadcast subtree is its own job), which
    profiling showed as 6-11 jobs per IVF query. Each query remains
    standalone — the first caller pays one normalize."""
    return _normalized(load_table(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=False
    )


N_QUERIES = 100


@register(
    "q_llm_cosine_topk",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    q AS (
      SELECT vec_id AS query_id, u AS qu FROM unit
      WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, unit.vec_id AS neighbor_id,
             floor(list_dot_product(q.qu, unit.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM q JOIN unit ON unit.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn FROM ranked WHERE rn <= {TOP_K}
    """,
)
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbors for a deterministic, BOUNDED
    query subset: normalize once, broadcast the query side, dot-product
    join, per-query top-k via window.

    Hash-checked against a SQL oracle that mirrors the arithmetic
    step-for-step (cast float->double, normalize by sqrt of the
    sequential square-sum, sequential dot, round e6): both engines
    accumulate in index order in double precision, so the e6-rounded
    cosines — and therefore the ranks, which tie-break on neighbor_id —
    agree exactly (verified at sf0.001 and sf0.01).

    The query side is capped at N_QUERIES via orderBy+limit (a
    TakeOrdered, not a global sort), so the broadcast is O(k·dim)
    regardless of corpus size — at 100 TB the corpus side streams
    through one narrow map stage against a fixed-size broadcast.
    Brute force over the *corpus* is inherently the exact baseline;
    the sublinear paths are q_llm_lsh_topk / q_llm_ivf_topk.
    """
    from pyspark.sql import Window

    em = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        em.filter(F.col("vec_id") % 50 == 0)
        .orderBy("vec_id")
        .limit(N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded probe set (TakeOrdered, ≤ N_QUERIES rows)
    scored = (
        exact_scores(
            em,
            "vec_id",
            "embedding",
            [(r["vec_id"], np_unit(r["embedding"])) for r in q_rows],
            normalize=True,
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dround(F.col("dot"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


N_HYPERPLANES = 8
EMBED_DIM = 64  # embeddings table dimensionality (TESTDATA.md)


def _plane_matrix(n_planes: int, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, PRECOMPUTED as plain
    floats: component (plane p, dim i) derives from md5(f"{p}:{i}")
    mapped to [-1, 1). No RNG — and because the matrix is ordinary
    literals rather than per-row hash expressions, (a) the projection
    is a cheap literal-array dot product in codegen, and (b) the SQL
    oracle can embed the IDENTICAL constants, making sign-LSH
    hash-checkable across engines."""
    out = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:12], 16)
            row.append(h % 2_000_003 / 1_000_001.5 - 1.0)
        out.append(row)
    return out


def _plane_sql(row: list[float]) -> str:
    """The literal hyperplane as SQL — scientific notation so DuckDB
    types every element DOUBLE (a plain decimal list would be DECIMAL
    and hash-mismatch), with round-trip precision."""
    return "[" + ", ".join(f"{v:.17e}" for v in row) + "]"


def _planes_tuple(n_planes: int) -> tuple:
    """The literal hyperplane matrix as a hashable tuple-of-tuples (the
    :func:`projections` cache key)."""
    return tuple(tuple(row) for row in _plane_matrix(n_planes))


def _sign_bits(n_planes: int, proj_col: str = "_pj") -> list[Column]:
    """0/1 sign bits of ``n_planes`` hyperplane projections, read from a
    MATERIALIZED projections-array column (one fused
    :func:`projections` pass per row — each entry is the sequential
    fold over its literal plane, same index order as the oracle's
    list_dot_product). Callers must first
    ``.withColumn(proj_col, projections(unit, _planes_tuple(n)))`` so
    the Arrow pass runs once, not once per bit."""
    return [
        F.when(F.element_at(F.col(proj_col), p + 1) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        for p in range(n_planes)
    ]


# Sign-LSH banding for near-dup candidate generation: 4 bands x 2
# hyperplane bits. Agreeing on any one band makes a pair a candidate.
# For a pair at cosine c, P(bit agrees) = 1 - acos(c)/pi, so a genuine
# near-dup at c=0.99 is missed with prob ~6e-5; candidates are verified
# with the exact dot product, so precision is unaffected.
NEARDUP_BANDS = 4
NEARDUP_BAND_BITS = 2


def _neardup_oracle_sql() -> str:
    """SQL twin of the full sign-LSH near-dup pipeline: identical
    hyperplane literals, identical fold order (list_dot_product ≙ the
    sequential aggregate), identical banding arithmetic — so even the
    LSH candidate SET is reproduced exactly, not approximated."""
    planes = _plane_matrix(NEARDUP_BANDS * NEARDUP_BAND_BITS)
    bit_cols = ",\n             ".join(
        f"CASE WHEN list_dot_product(u, {_plane_sql(planes[p])}) >= 0"
        f" THEN 1 ELSE 0 END AS bit{p}"
        for p in range(len(planes))
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT vec_id, label, u, {band} AS band_id,"
        f" bit{2 * band} + 2 * bit{2 * band + 1} AS band_hash FROM sig"
        for band in range(NEARDUP_BANDS)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id, label,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    sig AS (
      SELECT vec_id, label, u,
             {bit_cols}
      FROM unit
    ),
    banded AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                      a.label AS label
      FROM banded a JOIN banded b
        ON a.label = b.label AND a.band_id = b.band_id
       AND a.band_hash = b.band_hash AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.vec_a, c.vec_b, c.label,
             floor(list_dot_product(ua.u, ub.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM cand c
      JOIN unit ua ON ua.vec_id = c.vec_a
      JOIN unit ub ON ub.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, label, cosine
    FROM scored WHERE cosine >= 0.35
    ORDER BY cosine DESC, vec_a, vec_b LIMIT 100
    """


@register("q_llm_embedding_neardup", oracle=_neardup_oracle_sql())
def q_llm_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, reporting the top-100
    closest pairs with cosine >= 0.35 within a (label, LSH-band) block.

    Candidate pairs must share a *content-derived* sign-LSH band (plus
    the label metadata key), never label alone: label is low-cardinality,
    so label-only blocking is O(n²/|labels|) per block at scale, while
    band buckets shrink with corpus density. The joint key
    (label, band_id, band_hash) keeps the pair join shuffle-partitioned
    on a high-cardinality key; the exact cosine then verifies every
    candidate. HASH-CHECKED end to end: the hyperplanes are literal
    constants shared with the oracle text, so the oracle reproduces the
    exact LSH candidate set and the e6 cosines (both engines fold in
    index order in double precision)."""
    em = load_table(spark, sf_dir, "embeddings")
    n_bits = NEARDUP_BANDS * NEARDUP_BAND_BITS
    unit = em.select(
        "vec_id",
        "label",
        unit_vec(F.col("embedding")).alias("unit"),
    ).withColumn("_pj", projections(F.col("unit"), _planes_tuple(n_bits)))

    bits = _sign_bits(n_bits)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                sum(
                    (
                        bits[band * NEARDUP_BAND_BITS + j] * F.lit(1 << j)
                        for j in range(1, NEARDUP_BAND_BITS)
                    ),
                    bits[band * NEARDUP_BAND_BITS],
                ).alias("band_hash"),
            )
            for band in range(NEARDUP_BANDS)
        ]
    )
    # r16 OPTIMIZATION (guide §8 — decide with small rows, move heavy
    # bytes once): candidate generation ran the band self-join WITH the
    # 64-double unit vectors on both sides and computed a cosine per
    # (pair, band) BEFORE the distinct — a pair agreeing on several
    # bands paid the dot (and shipped 128 doubles through the scoring
    # projection) once per band. Now the self-join runs over the
    # 4-column (vec_id, label, band_id, band_hash) frame, the distinct
    # collapses multi-band duplicates on 24-byte rows, and the unit
    # vectors broadcast-join back onto the UNIQUE pairs for exactly one
    # dot each — the same placement as the oracle's DISTINCT cand CTE.
    # Values unchanged: duplicate candidates had identical cosines, so
    # dedup-before-score and dedup-after-score emit the same set.
    banded = unit.select(
        "vec_id", "label", F.explode(band_structs).alias("b")
    ).select("vec_id", "label", "b.band_id", "b.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
        )
        .distinct()  # a pair can agree on several bands
    )
    ua = unit.select(
        F.col("vec_id").alias("vec_a"), F.col("unit").alias("ua")
    )
    ub = unit.select(
        F.col("vec_id").alias("vec_b"), F.col("unit").alias("ub")
    )
    # No broadcast hint: the unit frame is corpus-sized (auto-broadcast
    # picks it up below the 10 MB threshold at gate SFs; at 10⁹ vectors
    # the planner correctly shuffle-joins on the vec keys instead).
    pairs = (
        cand.join(ua, "vec_a")
        .join(ub, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "label",
            dround(dot(F.col("ua"), F.col("ub")), 6).alias("cosine"),
        )
    )
    return (
        pairs.filter(F.col("cosine") >= 0.35)
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
        .limit(100)
    )




def _lsh_topk_oracle_sql() -> str:
    """SQL twin of the sign-LSH bucket search: identical literal
    hyperplanes, identical signature arithmetic, per-bucket cosine with
    the shared floor-rounding — the argmax mirrors max(struct) as
    row_number() = 1 with the same (cosine desc, id asc) tie-break."""
    planes = _plane_matrix(N_HYPERPLANES)
    bit_cols = ",\n             ".join(
        f"CASE WHEN list_dot_product(u, {_plane_sql(planes[p])}) >= 0"
        f" THEN 1 ELSE 0 END AS bit{p}"
        for p in range(N_HYPERPLANES)
    )
    signature = " + ".join(f"{1 << p} * bit{p}" for p in range(N_HYPERPLANES))
    return f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    sig AS (
      SELECT vec_id, u,
             {bit_cols}
      FROM unit
    ),
    bucketed AS (SELECT vec_id, u, {signature} AS bucket FROM sig),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             floor(list_dot_product(a.u, b.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine FROM ranked WHERE rn = 1
    """


@register("q_llm_lsh_topk", oracle=_lsh_topk_oracle_sql())
def q_llm_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbor candidates via sign-random-projection LSH:
    8 deterministic hyperplanes bucket every vector by an 8-bit sign
    signature; cosine is computed only within buckets. This is the
    100 TB path: shuffle by bucket key, Σ bucket² work instead of n².
    Output: per-vector best in-bucket neighbor, found with a single
    max(struct) hash aggregation — partial (map-side) combine, no
    per-group sort, unlike a row_number window. HASH-CHECKED against a
    SQL twin sharing the literal hyperplanes and fold order.

    r17: back on the un-memoized ``_normalized`` stream (the r15 form).
    The r16 move onto the lazily-checkpointed ``_unit_frame`` regressed
    this query on BOTH boxes (driver 0.54x, builder 0.69x): lsh needs
    only one cheap normalize pass, and its self-join's two subtrees run
    concurrently inside one job, so the checkpoint's serialized
    materialization is pure cost here (the r16 pin/concurrency lesson)."""
    em = load_table(spark, sf_dir, "embeddings")
    unit = _normalized(em).withColumn(
        "_pj", projections(F.col("unit"), _planes_tuple(N_HYPERPLANES))
    )

    sig_bits = _sign_bits(N_HYPERPLANES)
    signature = sum(
        (sig_bits[p] * F.lit(1 << p) for p in range(1, N_HYPERPLANES)),
        sig_bits[0],
    )

    bucketed = unit.withColumn("bucket", signature).drop("_pj")
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            dround(dot(F.col("a.unit"), F.col("b.unit")), 6).alias("cosine"),
        )
    )
    # argmax by (cosine desc, neighbor_id asc): max of a struct ordered
    # lexicographically, with -neighbor_id implementing the asc tie-break.
    best = scored.groupBy("query_id").agg(
        F.max(
            F.struct(
                F.col("cosine"),
                (-F.col("neighbor_id")).alias("neg_id"),
                F.col("neighbor_id"),
            )
        ).alias("best")
    )
    return best.select(
        "query_id",
        F.col("best.neighbor_id").alias("neighbor_id"),
        F.col("best.cosine").alias("cosine"),
    )


N_CELLS = 16
N_PROBE = 4


_IVF_ORACLE_SQL = """
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    cents AS (
      SELECT vec_id AS cell_id, u AS centroid FROM unit
      WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT {n_cells}
    ),
    sims AS (
      SELECT v.vec_id, v.u, c.cell_id,
             list_dot_product(v.u, c.centroid) AS csim
      FROM unit v CROSS JOIN cents c
    ),
    assigned AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cell_id) AS rn
      FROM sims
    ),
    members AS (SELECT vec_id, u, cell_id FROM assigned WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, u AS qu, cell_id
      FROM assigned WHERE vec_id % 50 = 0 AND rn <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, m.vec_id AS neighbor_id,
             floor(list_dot_product(p.qu, m.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM probes p JOIN members m USING (cell_id)
      WHERE m.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn FROM ranked WHERE rn <= {top_k}
"""


@register(
    "q_llm_ivf_topk",
    oracle=_IVF_ORACLE_SQL.format(n_cells=N_CELLS, n_probe=N_PROBE, top_k=TOP_K),
)
def q_llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the coarse-
    quantizer scale path complementing sign-LSH (q_llm_lsh_topk):

    1. centroids: a deterministic training-free coarse codebook — the
       unit vectors with ``vec_id % (n/N_CELLS-ish stride) == 0``
       (at scale: KMeans fit on a sample; the *assignment/probe plan
       below is identical either way*);
    2. assign every vector to its nearest centroid (broadcast the tiny
       codebook, argmax over dot products — one narrow pass, no shuffle
       of the vector side beyond the final cell-key exchange);
    3. queries probe their N_PROBE nearest cells; candidate scoring
       joins query→cell→members, so compared pairs are
       Σ_probed |cell| ≪ n per query — the IVF inverted-list pruning.

    HASH-CHECKED: literal-constant centrostride + index-order folds
    make assignment, probing, and e6 scoring identical in the SQL twin;
    recall vs the brute-force baseline is asserted in
    tests/test_llm_ops.py.
    """
    from pyspark.sql import Window

    unit = _unit_frame(spark, sf_dir)

    # Deterministic stride-sample of the codebook; orderBy+limit is a
    # TakeOrdered (per-partition top-N + driver merge), never a global sort.
    cents = (
        unit.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cell_id"), F.col("unit").alias("centroid"))
    )

    # Nearest cell per vector: broadcast codebook, argmax via a single
    # max(struct) hash aggregation — the broadcast join keeps all
    # N_CELLS candidate rows of a vector in one partition, so partial
    # (map-side) aggregation collapses them before any shuffle; no
    # per-vector sort window. Tie-break (csim desc, cell_id asc) via
    # the -cell_id struct field; `unit` rides along un-compared (the
    # first two fields never tie: -cell_id is unique).
    sims = unit.join(F.broadcast(cents)).select(
        "vec_id",
        "unit",
        "cell_id",
        dot(F.col("unit"), F.col("centroid")).alias("csim"),
    )
    members = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell_id")).alias("neg_cell"),
                    F.col("cell_id"),
                    F.col("unit"),
                )
            ).alias("best")
        )
        .select("vec_id", F.col("best.unit").alias("unit"),
                F.col("best.cell_id").alias("cell_id"))
    )

    # Query subset probes its N_PROBE nearest cells: rank the N_CELLS
    # candidates with one sorted-array aggregation over the (tiny,
    # pre-filtered) query side — never a window over the full corpus.
    probes = (
        sims.filter(F.col("vec_id") % 50 == 0)
        .groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("csim")).alias("neg_sim"),
                            F.col("cell_id"),
                        )
                    )
                ),
                1,
                N_PROBE,
            ).alias("top_cells"),
            F.first("unit").alias("q_unit"),
        )
        .select(
            F.col("vec_id").alias("query_id"),
            "q_unit",
            F.explode("top_cells").alias("c"),
        )
        .select("query_id", "q_unit", F.col("c.cell_id").alias("cell_id"))
    )

    scored = (
        probes.join(members, on="cell_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dround(dot(F.col("q_unit"), F.col("unit")), 6).alias("cosine"),
        )
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rn")
    )


# Shared CTE chain: the IVF coarse codebook + nearest-cell assignment
# (identical semantics to _IVF_ORACLE_SQL's prefix) — reused by the
# k-means-step and SemDeDup oracles below.
_CELLS_CTE_SQL = """
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    cents AS (
      SELECT vec_id AS cell_id, u AS centroid FROM unit
      WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT {n_cells}
    ),
    sims AS (
      SELECT v.vec_id, v.u, c.cell_id,
             list_dot_product(v.u, c.centroid) AS csim
      FROM unit v CROSS JOIN cents c
    ),
    assigned AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cell_id) AS rn
      FROM sims
    ),
    members AS (SELECT vec_id, u, cell_id FROM assigned WHERE rn = 1)
"""


def _cell_members(spark: SparkSession, sf_dir: str):
    """(cents, members): the IVF literal-stride codebook and every
    vector's nearest-cell assignment — the same broadcast + argmax
    aggregation plan as q_llm_ivf_topk (see that docstring)."""
    unit = _unit_frame(spark, sf_dir)
    cents = (
        unit.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cell_id"), F.col("unit").alias("centroid"))
    )
    sims = unit.join(F.broadcast(cents)).select(
        "vec_id",
        "unit",
        "cell_id",
        dot(F.col("unit"), F.col("centroid")).alias("csim"),
    )
    members = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell_id")).alias("neg_cell"),
                    F.col("cell_id"),
                    F.col("unit"),
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.cell_id").alias("cell_id"),
            F.col("b.unit").alias("u"),
        )
    )
    return cents, members


_KMEANS_ORACLE_SQL = (
    "WITH "
    + _CELLS_CTE_SQL
    + """,
    counts AS (
      SELECT cell_id, count(*) AS n_members FROM members GROUP BY cell_id
    ),
    expl AS (
      SELECT cell_id, unnest(u) AS val, generate_subscripts(u, 1) AS pos
      FROM members
    ),
    means AS (
      SELECT cell_id, pos,
             CAST(sum(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / count(val)
                 AS mean_d
      FROM expl GROUP BY cell_id, pos
    ),
    centpos AS (
      SELECT cell_id, unnest(centroid) AS old_d,
             generate_subscripts(centroid, 1) AS pos
      FROM cents
    ),
    metrics AS (
      SELECT m.cell_id,
             floor(CAST(sum(CAST(mean_d * mean_d AS DECIMAL(25,6)))
                        AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
                 AS new_norm2,
             floor(CAST(sum(CAST(mean_d * old_d AS DECIMAL(25,6)))
                        AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
                 AS drift_dot
      FROM means m JOIN centpos c ON m.cell_id = c.cell_id AND m.pos = c.pos
      GROUP BY m.cell_id
    )
    SELECT c.cell_id, c.n_members, new_norm2, drift_dot
    FROM metrics JOIN counts c USING (cell_id)
"""
)


@register(
    "q_llm_kmeans_step",
    oracle=_KMEANS_ORACLE_SQL.format(n_cells=N_CELLS),
)
def q_llm_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration over the embedding corpus, from
    the literal-stride codebook: assign every vector to its nearest
    cell, then recompute per-cell mean vectors and report the
    convergence metrics — member count, squared norm of the new mean,
    and its dot with the old centroid (drift).  This is the training
    step behind cluster-based curation (IVF codebooks, SemDeDup
    clustering); iterate it and the codebook converges.

    Plan: assignment is the broadcast+argmax pass of q_llm_ivf_topk;
    the mean recomputation posexplodes members into (cell, dim, val) —
    a 64x narrow fan-out — and hash-aggregates keyed on (cell, dim):
    decimal-summed means, so each dimension's mean is order-exact.
    Metrics then aggregate 64 rows per cell.  At 100 TB the (cell,dim)
    aggregate has |cells|*dim groups — tiny — and partials combine
    map-side; nothing ever gathers full vectors to one place.

    HASH-CHECKED: the oracle shares the literal stride codebook,
    index-order folds, and decimal-mean arithmetic."""
    cents, members = _cell_members(spark, sf_dir)
    DEC = "decimal(25,6)"
    counts = members.groupBy("cell_id").agg(F.count("*").alias("n_members"))
    expl = members.select(
        "cell_id", F.posexplode("u").alias("pos", "val")
    )
    means = expl.groupBy("cell_id", "pos").agg(
        (
            F.sum(F.col("val").cast(DEC)).cast("double") / F.count("val")
        ).alias("mean_d")
    )
    centpos = cents.select(
        "cell_id", F.posexplode("centroid").alias("pos", "old_d")
    )
    metrics = (
        means.join(centpos, ["cell_id", "pos"])
        .groupBy("cell_id")
        .agg(
            dround(
                F.sum((F.col("mean_d") * F.col("mean_d")).cast(DEC)).cast(
                    "double"
                ),
                6,
            ).alias("new_norm2"),
            dround(
                F.sum((F.col("mean_d") * F.col("old_d")).cast(DEC)).cast(
                    "double"
                ),
                6,
            ).alias("drift_dot"),
        )
    )
    return metrics.join(counts, "cell_id").select(
        "cell_id", "n_members", "new_norm2", "drift_dot"
    )


SEMDEDUP_TAU = 0.35

_SEMDEDUP_ORACLE_SQL = (
    "WITH "
    + _CELLS_CTE_SQL
    + """,
    pairs AS (
      SELECT a.cell_id, b.vec_id,
             a.vec_id AS keep_cand,
             list_dot_product(a.u, b.u) AS cos
      FROM members a JOIN members b USING (cell_id)
      WHERE a.vec_id < b.vec_id
    ),
    hits AS (SELECT * FROM pairs WHERE cos >= {tau})
    SELECT cell_id, vec_id,
           min(keep_cand) AS keeper_id,
           floor(min({{'kc': keep_cand, 'c': cos}})['c'] * 1000000.0 + 0.5)
               / 1000000.0 AS cos_to_keeper,
           count(*) AS n_better
    FROM hits
    GROUP BY cell_id, vec_id
"""
)


@register(
    "q_llm_semdedup",
    oracle=_SEMDEDUP_ORACLE_SQL.format(n_cells=N_CELLS, tau=SEMDEDUP_TAU),
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    corpus with the coarse codebook, then inside each cluster drop any
    vector that has a lower-id near-twin with cosine >= tau — pairs are
    only ever compared within a cell, never across the corpus.  Output:
    each dropped vector, its keeper (the smallest qualifying lower id),
    the cosine to that keeper, and how many qualifying twins it had.

    Plan: the within-cell self-join is keyed on cell_id, so compared
    pairs are sum of |cell|^2 over cells — the same quadratic-block
    bound as the IVF probe, a tiny fraction of n^2 (and at 100 TB the
    codebook grows to keep |cell| bounded; assignment cost stays one
    broadcast pass per vector).  The keeper argmin is one max(struct)
    -free hash aggregate: min over (keep_cand, cos) structs.

    HASH-CHECKED: literal codebook + index-order folds, e6 cosine."""
    _, members = _cell_members(spark, sf_dir)
    a = members.select(
        "cell_id",
        F.col("vec_id").alias("keep_cand"),
        F.col("u").alias("u1"),
    )
    b = members.select(
        "cell_id", "vec_id", F.col("u").alias("u2")
    )
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("keep_cand") < F.col("vec_id"))
        .select(
            "cell_id",
            "vec_id",
            "keep_cand",
            dot(F.col("u1"), F.col("u2")).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_TAU)
    )
    return (
        pairs.groupBy("cell_id", "vec_id")
        .agg(
            F.min("keep_cand").alias("keeper_id"),
            F.min(F.struct(F.col("keep_cand"), F.col("cos"))).alias("k"),
            F.count("*").alias("n_better"),
        )
        .select(
            "cell_id",
            "vec_id",
            "keeper_id",
            dround(F.col("k.cos"), 6).alias("cos_to_keeper"),
            "n_better",
        )
    )


PQ_M = 8  # subspaces
PQ_SUBDIM = EMBED_DIM // PQ_M  # 8 dims per subspace
PQ_K = 16  # centroids per subspace -> 4-bit codes, 8 per vector

_PQ_ORACLE_SQL = """
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    cents AS (
      SELECT vec_id AS cell_id, u AS centroid FROM unit
      WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT {k}
    ),
    cents_k AS (
      SELECT cell_id, centroid,
             row_number() OVER (ORDER BY cell_id) - 1 AS k_id
      FROM cents
    ),
    subs AS (
      SELECT vec_id, m, u[m * {d} + 1 : (m + 1) * {d}] AS sub_x
      FROM unit, unnest(range(0, {mm})) AS t(m)
    ),
    csubs AS (
      SELECT k_id, m, centroid[m * {d} + 1 : (m + 1) * {d}] AS sub_c
      FROM cents_k, unnest(range(0, {mm})) AS t(m)
    ),
    scored AS (
      SELECT s.vec_id, s.m, c.k_id,
             list_dot_product(s.sub_x, c.sub_c) AS ip,
             row_number() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY list_dot_product(s.sub_x, c.sub_c) DESC, c.k_id
             ) AS rn
      FROM subs s JOIN csubs c ON s.m = c.m
    ),
    best AS (SELECT vec_id, m, k_id, ip FROM scored WHERE rn = 1)
    SELECT vec_id,
           CAST(sum(k_id * power(2, 4 * m)) AS BIGINT) AS pq_code,
           floor(CAST(sum(CAST(ip AS DECIMAL(25,6))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS retained
    FROM best
    GROUP BY vec_id
"""


@register(
    "q_llm_pq_encode",
    oracle=_PQ_ORACLE_SQL.format(k=PQ_K, d=PQ_SUBDIM, mm=PQ_M),
)
def q_llm_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) encoding — the standard compression for
    billion-scale embedding stores (IVF-PQ): split each unit vector
    into 8 subvectors of 8 dims, assign each subvector to the best of
    16 sub-centroids by inner product, and pack the eight 4-bit indices
    into one bigint code (64 floats -> 4 bytes, 64:1).  `retained` (the
    decimal-summed best inner products) measures how much similarity
    mass the codebook preserves per vector — the PQ analog of
    reconstruction error.

    Sub-codebooks reuse the deterministic stride-sample vectors of the
    IVF coarse quantizer, sliced per subspace (at scale: trained
    per-subspace k-means via q_llm_kmeans_step; the encode plan is
    identical).  Plan: subspace explode is an 8x narrow fan-out; the
    (vec,subspace)-keyed argmax is one map-side-combining max(struct)
    aggregate against a broadcast 128-row codebook; the final pack is a
    second tiny aggregate.  Nothing ever shuffles full vectors.

    HASH-CHECKED: literal stride codebook + index-order folds; codes
    are exact integers, `retained` is e6."""
    unit = _unit_frame(spark, sf_dir)
    from pyspark.sql import Window

    cents = (
        unit.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("cell_id"), F.col("unit").alias("centroid"))
    )
    # dense 0..K-1 ids in cell_id order; 16 rows, window is trivial
    cents_k = cents.withColumn(
        "k_id", F.row_number().over(Window.orderBy("cell_id")) - 1
    )
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    subs = (
        unit.select("vec_id", "unit", ms)
        .select(
            "vec_id",
            "m",
            F.slice(
                "unit", F.col("m") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM)
            ).alias("sub_x"),
        )
    )
    csubs = (
        cents_k.select("k_id", "centroid", ms)
        .select(
            "k_id",
            "m",
            F.slice(
                "centroid", F.col("m") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM)
            ).alias("sub_c"),
        )
    )
    scored = subs.join(F.broadcast(csubs), "m").select(
        "vec_id",
        "m",
        "k_id",
        dot(F.col("sub_x"), F.col("sub_c")).alias("ip"),
    )
    best = (
        scored.groupBy("vec_id", "m")
        .agg(
            F.max(
                F.struct(
                    F.col("ip"), (-F.col("k_id")).alias("neg_k"), F.col("k_id")
                )
            ).alias("b")
        )
        .select(
            "vec_id", "m", F.col("b.k_id").alias("k_id"), F.col("b.ip").alias("ip")
        )
    )
    DEC = "decimal(25,6)"
    return best.groupBy("vec_id").agg(
        F.sum(
            F.col("k_id") * F.pow(F.lit(2.0), F.col("m") * 4)
        ).cast("bigint").alias("pq_code"),
        dround(
            F.sum(F.col("ip").cast(DEC)).cast("double"), 6
        ).alias("retained"),
    )


_IVFPQ_ORACLE_SQL = """
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    cents AS (
      SELECT vec_id AS cell_id, u AS centroid FROM unit
      WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT {k}
    ),
    cents_k AS (
      SELECT cell_id, centroid,
             row_number() OVER (ORDER BY cell_id) - 1 AS k_id
      FROM cents
    ),
    sims AS (
      SELECT v.vec_id, c.cell_id,
             list_dot_product(v.u, c.centroid) AS csim
      FROM unit v CROSS JOIN cents c
    ),
    members AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cell_id) AS rn
        FROM sims) WHERE rn = 1
    ),
    subs AS (
      SELECT vec_id, m, u[m * {d} + 1 : (m + 1) * {d}] AS sub_x
      FROM unit, unnest(range(0, {mm})) AS t(m)
    ),
    csubs AS (
      SELECT k_id, m, centroid[m * {d} + 1 : (m + 1) * {d}] AS sub_c
      FROM cents_k, unnest(range(0, {mm})) AS t(m)
    ),
    codes AS (
      SELECT vec_id, m, k_id FROM (
        SELECT s.vec_id, s.m, c.k_id,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_dot_product(s.sub_x, c.sub_c) DESC, c.k_id
               ) AS rn
        FROM subs s JOIN csubs c ON s.m = c.m) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cell_id) AS rn
        FROM sims WHERE vec_id % 50 = 0) WHERE rn <= {n_probe}
    ),
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.k_id,
             list_dot_product(s.sub_x, c.sub_c) AS ip
      FROM subs s JOIN csubs c ON s.m = c.m
      WHERE s.vec_id % 50 = 0
    ),
    cand AS (
      SELECT p.query_id, mem.vec_id
      FROM probes p JOIN members mem USING (cell_id)
      WHERE mem.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id AS neighbor_id,
             floor(CAST(sum(CAST(l.ip AS DECIMAL(25,6))) AS DOUBLE)
                   * 1000000.0 + 0.5) / 1000000.0 AS adc
      FROM cand c
      JOIN codes k ON k.vec_id = c.vec_id
      JOIN lut l ON l.query_id = c.query_id
               AND l.m = k.m AND l.k_id = k.k_id
      GROUP BY c.query_id, c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, adc, rn FROM ranked WHERE rn <= {top_k}
"""


@register(
    "q_llm_ivfpq_search",
    oracle=_IVFPQ_ORACLE_SQL.format(
        k=PQ_K, d=PQ_SUBDIM, mm=PQ_M, n_probe=N_PROBE, top_k=TOP_K
    ),
)
def q_llm_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance search (the FAISS billion-scale ANN
    plan, end to end): queries probe their N_PROBE nearest coarse
    cells, candidates in those cells are scored WITHOUT touching their
    full vectors — each candidate contributes only its 8 PQ code ids,
    looked up in the query's 128-entry inner-product table (ADC) — and
    the decimal-summed table lookups rank the top-k.

    Why this is *the* 100 TB shape: the corpus side of the score join
    carries (vec_id, m, k_id) — a few bytes per vector — while the
    per-query LUT (|queries| x 128 rows) broadcasts; full vectors are
    read once to build codes and never shuffle afterwards.  Memory
    per 10^9 vectors: 4 GB of codes vs 256 GB of float32 vectors.

    Composes the registered building blocks: coarse assignment =
    q_llm_ivf_topk's argmax; codes = q_llm_pq_encode; probe ranking =
    the sorted-array slice over the pre-filtered query side.

    HASH-CHECKED end to end: literal stride codebook, index-order
    folds, decimal-summed ADC, e6 rounding, unique tie-breaks."""
    from pyspark.sql import Window

    unit = _unit_frame(spark, sf_dir)
    cents = (
        unit.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("cell_id"), F.col("unit").alias("centroid"))
    )
    cents_k = cents.withColumn(
        "k_id", F.row_number().over(Window.orderBy("cell_id")) - 1
    )
    sims = unit.join(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        dot(F.col("unit"), F.col("centroid")).alias("csim"),
    )
    members = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"), (-F.col("cell_id")).alias("neg"), F.col("cell_id")
                )
            ).alias("b")
        )
        .select("vec_id", F.col("b.cell_id").alias("cell_id"))
    )
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    subs = unit.select("vec_id", "unit", ms).select(
        "vec_id",
        "m",
        F.slice("unit", F.col("m") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM)).alias(
            "sub_x"
        ),
    )
    csubs = cents_k.select("k_id", "centroid", ms).select(
        "k_id",
        "m",
        F.slice(
            "centroid", F.col("m") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM)
        ).alias("sub_c"),
    )
    codes = (
        subs.join(F.broadcast(csubs), "m")
        .select(
            "vec_id", "m", "k_id",
            dot(F.col("sub_x"), F.col("sub_c")).alias("ip"),
        )
        .groupBy("vec_id", "m")
        .agg(
            F.max(
                F.struct(F.col("ip"), (-F.col("k_id")).alias("neg"), F.col("k_id"))
            ).alias("b")
        )
        .select("vec_id", "m", F.col("b.k_id").alias("k_id"))
    )
    probes = (
        sims.filter(F.col("vec_id") % 50 == 0)
        .groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("csim")).alias("neg_sim"), F.col("cell_id")
                        )
                    )
                ),
                1,
                N_PROBE,
            ).alias("top_cells")
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode("top_cells").alias("c"),
        )
        .select("query_id", F.col("c.cell_id").alias("cell_id"))
    )
    lut = (
        subs.filter(F.col("vec_id") % 50 == 0)
        .join(F.broadcast(csubs), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "k_id",
            dot(F.col("sub_x"), F.col("sub_c")).alias("ip"),
        )
    )
    cand = (
        probes.join(members, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    DEC = "decimal(25,6)"
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "k_id"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            dround(
                F.sum(F.col("ip").cast(DEC)).cast("double"), 6
            ).alias("adc")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "adc", "rn")
    )


_RECALL_ORACLE_SQL = """
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    q AS (
      SELECT vec_id AS query_id, u AS qu FROM unit WHERE vec_id % 50 = 0
    ),
    exact_scored AS (
      SELECT q.query_id, unit.vec_id AS neighbor_id,
             floor(list_dot_product(q.qu, unit.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM q JOIN unit ON unit.vec_id <> q.query_id
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM exact_scored) WHERE rn <= {top_k}
    ),
    cents AS (
      SELECT vec_id AS cell_id, u AS centroid FROM unit
      WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT {k}
    ),
    sims AS (
      SELECT v.vec_id, c.cell_id,
             list_dot_product(v.u, c.centroid) AS csim
      FROM unit v CROSS JOIN cents c
    ),
    members AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cell_id) AS rn
        FROM sims) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cell_id) AS rn
        FROM sims WHERE vec_id % 50 = 0) WHERE rn <= {n_probe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, mem.vec_id AS neighbor_id
      FROM probes p JOIN members mem USING (cell_id)
      WHERE mem.vec_id <> p.query_id
    ),
    hits AS (
      SELECT e.query_id,
             count(c.neighbor_id) AS n_found
      FROM exact_topk e
      LEFT JOIN cand c ON c.query_id = e.query_id
                      AND c.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT query_id,
           n_found,
           CAST(n_found AS DOUBLE) / {top_k}.0 AS recall_at_k
    FROM hits
"""


@register(
    "q_llm_ann_recall",
    oracle=_RECALL_ORACLE_SQL.format(k=PQ_K, n_probe=N_PROBE, top_k=TOP_K),
)
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement as a first-class query: recall@k of the
    IVF probe's candidate set against the exact brute-force top-k, per
    query — the metric you tune N_PROBE / codebook size against before
    trusting an approximate index in production.  Both sides are
    deterministic, so even this evaluation is hash-checked.

    Plan: the exact side is the bounded brute-force baseline (broadcast
    query set over one corpus pass); the candidate side reuses the IVF
    probe join; recall is a left-join hit count per query.  At scale
    this runs on a sampled query set — recall estimation needs hundreds
    of queries, not the corpus."""
    from pyspark.sql import Window

    em = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        em.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .collect()
    )  # the sampled query set (n/50 — the docstring's scale contract)
    exact_scored = (
        exact_scores(
            em,
            "vec_id",
            "embedding",
            [(r["vec_id"], np_unit(r["embedding"])) for r in q_rows],
            normalize=True,
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dround(F.col("dot"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    exact_topk = (
        exact_scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    c_rows = (
        em.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(PQ_K)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded centroid seed (TakeOrdered, ≤ PQ_K rows)
    sims = exact_scores(
        em,
        "vec_id",
        "embedding",
        [(r["vec_id"], np_unit(r["embedding"])) for r in c_rows],
        normalize=True,
    ).select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("query_id").alias("cell_id"),
        F.col("dot").alias("csim"),
    )
    members = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"), (-F.col("cell_id")).alias("neg"), F.col("cell_id")
                )
            ).alias("b")
        )
        .select("vec_id", F.col("b.cell_id").alias("cell_id"))
    )
    probes = (
        sims.filter(F.col("vec_id") % 50 == 0)
        .groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("csim")).alias("neg_sim"), F.col("cell_id")
                        )
                    )
                ),
                1,
                N_PROBE,
            ).alias("top_cells")
        )
        .select(
            F.col("vec_id").alias("query_id"), F.explode("top_cells").alias("c")
        )
        .select("query_id", F.col("c.cell_id").alias("cell_id"))
    )
    cand = (
        probes.join(members, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return (
        exact_topk.join(
            cand.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_found"))
        .select(
            "query_id",
            "n_found",
            (F.col("n_found").cast("double") / float(TOP_K)).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive training data)
# --------------------------------------------------------------------------

N_NEG_PROBES = 50


@register(
    "q_llm_hard_negatives",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id, label,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    probes AS (
      SELECT vec_id AS probe_id, label AS probe_label, u AS pu FROM unit
      WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT {N_NEG_PROBES}
    ),
    scored AS (
      SELECT p.probe_id, p.probe_label,
             unit.vec_id AS neg_id, unit.label AS neg_label,
             floor(list_dot_product(p.pu, unit.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM probes p JOIN unit ON unit.label <> p.probe_label
    )
    SELECT probe_id, probe_label, neg_id, neg_label, cosine
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, neg_id) = 1
    """,
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each probe vector, the single most-similar vector carrying a
    DIFFERENT label — the negative that most confuses a classifier and
    therefore the one worth training against (the batch analogue of
    in-batch hard negatives).

    Plan: the probe set is bounded and deterministic (vec_id % 97,
    TakeOrdered limit), so it broadcasts as O(probes·dim) and the
    corpus streams through ONE map stage computing label-filtered
    dot products — linear in corpus size with a constant probe factor,
    no shuffle of the embedding column at all; the per-probe argmax is
    a window over probes·|corpus| narrow score rows. Same determinism
    contract as q_llm_cosine_topk: double-cast, sequential-fold
    normalize + dot, e6 round, tie-break on neg_id. For probe sets too
    large to broadcast, the IVF-bucketed path (q_llm_ivf_topk) is the
    scale route; this exact scan is also the recall oracle for it."""
    from pyspark.sql import Window

    em = load_table(spark, sf_dir, "embeddings")
    p_rows = (
        em.filter(F.col("vec_id") % 97 == 0)
        .orderBy("vec_id")
        .limit(N_NEG_PROBES)
        .select("vec_id", "label", "embedding")
        .collect()
    )  # bounded probe set (TakeOrdered, ≤ N_NEG_PROBES rows)
    plabels = spark.createDataFrame(
        [(r["vec_id"], r["label"]) for r in p_rows],
        "probe_id bigint, probe_label int",
    )
    scored = (
        exact_scores(
            em,
            "vec_id",
            "embedding",
            [(r["vec_id"], np_unit(r["embedding"])) for r in p_rows],
            normalize=True,
            carry=(("label", "int"),),
        )
        .select(
            F.col("query_id").alias("probe_id"),
            F.col("neighbor_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            dround(F.col("dot"), 6).alias("cosine"),
        )
        .join(F.broadcast(plabels), "probe_id")
        .filter(F.col("neg_label") != F.col("probe_label"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", "probe_label", "neg_id", "neg_label", "cosine")
    )


# --------------------------------------------------------------------------
# Per-dimension embedding statistics (drift / collapse monitoring)
# --------------------------------------------------------------------------
@register(
    "q_emb_dim_stats",
    oracle="""
    WITH x AS (
      SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    agg AS (
      SELECT label, dim, count(*) AS n,
             CAST(sum(CAST(v AS DECIMAL(25,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(v * v AS DECIMAL(25,6))) AS DOUBLE) AS sx2
      FROM x GROUP BY label, dim
    )
    SELECT label, dim, n,
           floor(sx / n * 1000000.0 + 0.5) / 1000000.0 AS mean,
           floor((sx2 / n - (sx / n) * (sx / n)) * 1000000.0 + 0.5)
               / 1000000.0 AS var_pop
    FROM agg
    """,
)
def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension embedding statistics (count, mean,
    population variance) — the monitoring aggregate behind embedding
    drift detection and dimensional-collapse checks on a training
    corpus.  posexplode widens rows x dims once; the single hash
    aggregate partially combines map-side, so at 100 TB the shuffle
    carries only |labels| x dim x 3 accumulators, not vectors.

    Determinism: float32 lanes widen to float64 identically in both
    engines; sums go through the decimal(25,6) convention, and the
    mean/variance are e6-rounded doubles, so the driver hash is exact.
    Note var uses sums rounded at decimal(25,6): v*v is rounded to 6
    decimal places BEFORE summation in both engines, keeping the
    E[x^2]-E[x]^2 arithmetic bit-identical."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("dim", "v32")
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.col("v32").cast("double").alias("v"),
    )
    agg = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(DEC)).cast("double").alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast(DEC)).cast("double").alias("sx2"),
    )
    mean = F.col("sx") / F.col("n")
    return agg.select(
        "label",
        "dim",
        "n",
        dround(mean, 6).alias("mean"),
        dround(F.col("sx2") / F.col("n") - mean * mean, 6).alias("var_pop"),
    )


@register(
    "q_emb_pca_power_step",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, x,
             floor(list_sum(x) * 1000000.0 + 0.5) / 1000000.0 AS sr
      FROM e
    ),
    contrib AS (
      SELECT u.i AS dim, x[u.i] * sr AS c
      FROM s, unnest(range(1, len(x) + 1)) AS u(i)
    ),
    comp AS (
      SELECT CAST(dim AS INT) AS dim,
             CAST(sum(CAST(c AS DECIMAL(25,6))) AS DOUBLE) AS comp_raw
      FROM contrib GROUP BY dim
    ),
    normed AS (
      SELECT dim, comp_raw,
             CAST(sum(CAST(comp_raw * comp_raw AS DECIMAL(25,6)))
                      OVER () AS DOUBLE) AS norm2
      FROM comp
    )
    SELECT dim,
           floor(comp_raw * 1000000.0 + 0.5) / 1000000.0 AS component,
           floor(comp_raw / sqrt(norm2) * 1000000.0 + 0.5) / 1000000.0
               AS loading
    FROM normed
    """,
)
def q_emb_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One POWER-ITERATION step toward the corpus' top principal
    direction: v1 = normalize(X^T X v0) computed as
    sum_x x * (x . v0) with the deterministic all-ones probe v0 — the
    anisotropy / dimensional-collapse monitor for an embedding corpus
    (a dominant principal direction with outsized loading means the
    embedding space has collapsed toward a cone; re-run with v <- v1
    broadcast to converge). Output: per dimension, the unnormalized
    component and the unit-normalized loading.

    Plan: one map stage (per-row projection x . v0, e6-rounded per the
    engine's transcendental-step convention) + ONE (dim)-keyed decimal
    aggregate — the shuffle carries 64 accumulator rows. Iterating k
    steps is k such jobs with the 64-float v broadcast back; the corpus
    never re-shuffles. The norm pass is a window over the 64 aggregated
    rows — driver-trivial at any corpus size."""
    em = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    s = F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v)
    rows = em.select(
        F.posexplode(x).alias("pos", "xd"),
        dround(s, 6).alias("sr"),
    )
    comp = (
        rows.groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.sum((F.col("xd") * F.col("sr")).cast("decimal(25,6)"))
            .cast("double")
            .alias("comp_raw")
        )
    )
    from pyspark.sql.window import Window

    norm2 = (
        F.sum((F.col("comp_raw") * F.col("comp_raw")).cast("decimal(25,6)"))
        .over(Window.partitionBy())
        .cast("double")
    )
    return comp.select(
        "dim",
        dround(F.col("comp_raw"), 6).alias("component"),
        dround(F.col("comp_raw") / F.sqrt(norm2), 6).alias("loading"),
    )


# --------------------------------------------------------------------------
# IVF codebook TRAINING: iterate the Lloyd step (q_llm_kmeans_step) to
# convergence and persist the trained coarse quantizer as a versioned
# snapshot. The literal-stride codebook stays as the deterministic
# oracle twin used by the registered queries; this is the production
# path a real index build runs (train on a sample, commit, then
# assign/probe with the SAME plan shape as q_llm_ivf_topk).
# --------------------------------------------------------------------------


def ivf_candidates(
    unit: DataFrame,
    cents: DataFrame,
    n_probe: int = N_PROBE,
    query_mod: int = 50,
) -> DataFrame:
    """(query_id, neighbor_id) IVF candidate pairs for the sampled
    query set (vec_id % query_mod == 0) probing ``n_probe`` cells of
    ``cents`` (cell_id, centroid) — the probe/member join of
    q_llm_ivf_topk, parameterized by codebook so trained and literal
    codebooks run the identical plan."""
    sims = unit.join(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        dot(F.col("unit"), F.col("centroid")).alias("csim"),
    )
    members = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell_id")).alias("neg"),
                    F.col("cell_id"),
                )
            ).alias("b")
        )
        .select("vec_id", F.col("b.cell_id").alias("cell_id"))
    )
    probes = (
        sims.filter(F.col("vec_id") % query_mod == 0)
        .groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("csim")).alias("neg_sim"),
                            F.col("cell_id"),
                        )
                    )
                ),
                1,
                n_probe,
            ).alias("top_cells")
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode("top_cells").alias("c"),
        )
        .select("query_id", F.col("c.cell_id").alias("cell_id"))
    )
    return (
        probes.join(members, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


def ivf_recall(
    spark: SparkSession,
    sf_dir: str,
    cents: DataFrame,
    n_probe: int = N_PROBE,
    top_k: int = TOP_K,
    query_mod: int = 50,
) -> float:
    """Mean recall@top_k of the IVF candidate set under ``cents``
    against the exact brute-force top-k (the q_llm_ann_recall metric,
    parameterized by codebook) — the number you compare a trained
    codebook against the literal seed with."""
    from pyspark.sql import Window

    unit = _unit_frame(spark, sf_dir)
    q = unit.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("qu")
    )
    scored = unit.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dround(dot(F.col("qu"), F.col("unit")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("query_id", "neighbor_id")
    )
    cand = ivf_candidates(unit, cents, n_probe, query_mod)
    hits = (
        exact.join(
            cand.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .agg(
            F.count("hit").alias("found"),
            F.count(F.lit(1)).alias("want"),
        )
        .collect()[0]
    )
    return float(hits["found"]) / max(1, int(hits["want"]))


def literal_codebook(
    spark: SparkSession, sf_dir: str, n_cells: int = N_CELLS
) -> DataFrame:
    """The deterministic stride-sample seed codebook shared with the
    registered IVF queries (q_llm_ivf_topk's cents stage)."""
    unit = _unit_frame(spark, sf_dir)
    return (
        unit.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell_id"), F.col("unit").alias("centroid")
        )
    )


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    n_cells: int = N_CELLS,
    max_iters: int = 10,
    tol: float = 1e-4,
) -> dict:
    """Train the IVF coarse codebook: spherical k-means (Lloyd steps
    with unit-renormalized means — the cosine-geometry variant) from
    the literal-stride seed, iterated until the max per-cell centroid
    movement (1 − ⟨new, old⟩) drops below ``tol`` or ``max_iters``.
    The trained (cell_id, centroid) codebook commits through the
    versioned-table pointer protocol (sources/versioned.py), so ANN
    ops can ``load_ivf_codebook`` an immutable snapshot while the next
    nightly re-train builds the successor.

    Scale shape: each iteration is one broadcast+argmax assignment
    pass over the corpus plus a (cell, dim) hash aggregate — the
    q_llm_kmeans_step plan — and only the k×d codebook (KBs) ever
    reaches the driver. At 100 TB you train on a sample (pass a
    sampled sf_dir); assignment cost is what it would be for one
    ordinary IVF build."""
    import math as _math

    from ex_hivent_spark.sources import versioned

    unit = _unit_frame(spark, sf_dir)  # memoized + lazily checkpointed

    seed = (
        unit.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(n_cells)
        .select("unit")
        .collect()
    )
    codebook = [list(map(float, r["unit"])) for r in seed]

    def cents_df():
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(codebook)],
            "cell_id long, centroid array<double>",
        )

    shift = float("inf")
    iters = 0
    for iters in range(1, max_iters + 1):
        cents = F.broadcast(cents_df())
        sims = unit.join(cents).select(
            "vec_id",
            "unit",
            "cell_id",
            dot(F.col("unit"), F.col("centroid")).alias("csim"),
        )
        members = (
            sims.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("csim"),
                        (-F.col("cell_id")).alias("neg"),
                        F.col("cell_id"),
                        F.col("unit"),
                    )
                ).alias("b")
            )
            .select(F.col("b.cell_id").alias("cell_id"), F.col("b.unit").alias("u"))
        )
        mean_rows = (
            members.select("cell_id", F.posexplode("u").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cell_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("mean"),
            )
            .collect()  # k rows of d doubles — the codebook, nothing more
        )
        new_means = {int(r["cell_id"]): list(map(float, r["mean"])) for r in mean_rows}
        shift = 0.0
        nxt = []
        for cid, old in enumerate(codebook):
            mean = new_means.get(cid)
            if mean is None:  # empty cell keeps its centroid
                nxt.append(old)
                continue
            norm = _math.sqrt(sum(x * x for x in mean)) or 1.0
            newc = [x / norm for x in mean]
            shift = max(
                shift, 1.0 - sum(a * b for a, b in zip(newc, old))
            )
            nxt.append(newc)
        codebook = nxt
        if shift < tol:
            break

    version = versioned.write_snapshot(
        spark,
        cents_df(),
        table_dir,
        note=f"ivf codebook n_cells={n_cells} iters={iters} shift={shift:.2e}",
    )
    return {
        "n_cells": n_cells,
        "iters": iters,
        "shift": shift,
        "version": version,
    }


def load_ivf_codebook(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Load a committed IVF codebook snapshot (time-travel with
    ``version``)."""
    from ex_hivent_spark.sources import versioned

    return versioned.read_snapshot(spark, table_dir, version).select(
        "cell_id", "centroid"
    )


MRL_DIM = 16  # matryoshka truncation prefix length


@register(
    "q_llm_matryoshka_recall",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    t16 AS (SELECT vec_id, e[1:{MRL_DIM}] AS e16 FROM emb),
    unit16 AS (
      SELECT vec_id,
             list_transform(e16,
               x -> x / sqrt(list_sum(list_transform(e16, y -> y * y))))
               AS u16
      FROM t16
    ),
    fq AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             floor(list_dot_product(a.u, b.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM unit a JOIN unit b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 50 = 0
    ),
    full_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM fq
    ),
    tq AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             floor(list_dot_product(a.u16, b.u16) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM unit16 a JOIN unit16 b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 50 = 0
    ),
    tr_rank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM tq
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(t.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_mrl
    FROM full_rank f
    LEFT JOIN (SELECT * FROM tr_rank WHERE rn <= {TOP_K}) t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    WHERE f.rn <= {TOP_K}
    GROUP BY f.query_id
    """,
)
def q_llm_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: recall@k of top-k retrieval
    using only the first MRL_DIM embedding dimensions (renormalized)
    against full-dimension top-k, per query — the measurement that
    decides whether a 4× cheaper truncated index is acceptable
    (Kusupati et al. 2022: MRL-trained embeddings concentrate
    information in the prefix; this op quantifies how much YOUR
    vectors do).

    Plan: both rankings are the bounded brute-force baseline (sampled
    query set broadcast against one corpus pass — recall estimation
    needs hundreds of queries, not the corpus); the truncated side
    slices then renormalizes BEFORE scoring, so its index cost model
    is honest. Overlap is a per-query join-count. Determinism: e6
    cosines, neighbor-id tie-breaks, exact integer overlap counts."""
    from pyspark.sql import Window

    em = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        em.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .collect()
    )  # the sampled query set (n/50 — the docstring's scale contract)
    em16 = em.select(
        "vec_id", F.slice(F.col("embedding"), 1, MRL_DIM).alias("emb16")
    )

    def topk(corpus: DataFrame, vec_col: str, queries: list) -> DataFrame:
        scored = (
            exact_scores(corpus, "vec_id", vec_col, queries, normalize=True)
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                dround(F.col("dot"), 6).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full_k = topk(
        em,
        "embedding",
        [(r["vec_id"], np_unit(r["embedding"])) for r in q_rows],
    )
    tr_k = topk(
        em16,
        "emb16",
        [(r["vec_id"], np_unit(list(r["embedding"])[:MRL_DIM])) for r in q_rows],
    ).withColumn("hit", F.lit(1))
    return (
        full_k.join(tr_k, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("bigint").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / TOP_K).alias(
                "recall_mrl"
            ),
        )
    )


OUTLIER_TOP = 20


@register(
    "q_emb_outlier_centroid",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    expl AS (
      SELECT vec_id, unnest(u) AS val, generate_subscripts(u, 1) AS pos
      FROM unit
    ),
    means AS (
      SELECT pos,
             CAST(sum(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / count(val)
               AS m
      FROM expl GROUP BY pos
    ),
    cent AS (SELECT list(m ORDER BY pos) AS c FROM means),
    chat AS (
      SELECT list_transform(c,
               x -> x / sqrt(list_sum(list_transform(c, y -> y * y)))) AS ch
      FROM cent
    ),
    scored AS (
      SELECT u.vec_id, e.label,
             floor(list_dot_product(u.u, chat.ch) * 1000000.0 + 0.5)
               / 1000000.0 AS cos_centroid
      FROM unit u CROSS JOIN chat JOIN embeddings e ON e.vec_id = u.vec_id
    )
    SELECT vec_id, label, cos_centroid
    FROM scored ORDER BY cos_centroid, vec_id LIMIT {OUTLIER_TOP}
    """,
)
def q_emb_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit: cosine of every unit vector to
    the (normalized) corpus centroid direction, reporting the
    OUTLIER_TOP farthest vectors — the cheap embedding-QC pass that
    surfaces mis-embedded rows, wrong-modality leaks, and off-domain
    contamination before any clustering/ANN index trusts the space
    (outliers poison k-means seeds and IVF cell balance).

    Plan: the per-dimension centroid is one posexplode + (dim) hash
    aggregate with decimal-summed means (|dims| groups — tiny at any
    corpus size), reassembled and normalized as a one-row broadcast;
    scoring is a map-only pass; the bottom-N is a TakeOrdered
    (per-partition top + driver merge, no global sort). Determinism:
    decimal means, e6 cosine, vec_id tie-break."""
    unit = _unit_frame(spark, sf_dir)  # centroid aggregate +
    # scoring pass share the memoized normalization
    means = (
        unit.select(F.posexplode("unit").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(25,6)")).cast("double")
                / F.count("val")
            ).alias("m")
        )
    )
    cent = means.agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
    ).select(F.transform(F.col("pm"), lambda s: s["m"]).alias("c"))
    chat = cent.select(unit_vec(F.col("c")).alias("ch"))
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    scored = (
        unit.crossJoin(F.broadcast(chat))
        .select(
            "vec_id",
            dround(dot(F.col("unit"), F.col("ch")), 6).alias(
                "cos_centroid"
            ),
        )
        .join(labels, "vec_id")
    )
    return scored.orderBy("cos_centroid", "vec_id").limit(
        OUTLIER_TOP
    ).select("vec_id", "label", "cos_centroid")


@register(
    "q_emb_pq_distortion",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    cents AS (
      SELECT vec_id AS cell_id, u AS centroid FROM unit
      WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT {PQ_K}
    ),
    cents_k AS (
      SELECT cell_id, centroid,
             row_number() OVER (ORDER BY cell_id) - 1 AS k_id
      FROM cents
    ),
    subs AS (
      SELECT vec_id, m, u[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}]
               AS sub_x
      FROM unit, unnest(range(0, {PQ_M})) AS t(m)
    ),
    csubs AS (
      SELECT k_id, m,
             centroid[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sub_c
      FROM cents_k, unnest(range(0, {PQ_M})) AS t(m)
    ),
    scored AS (
      SELECT s.vec_id, s.m, c.k_id, s.sub_x, c.sub_c,
             list_dot_product(s.sub_x, c.sub_c) AS ip,
             row_number() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY list_dot_product(s.sub_x, c.sub_c) DESC, c.k_id
             ) AS rn
      FROM subs s JOIN csubs c ON s.m = c.m
    ),
    best AS (
      SELECT vec_id, m,
             {sql_dround(
                 "list_dot_product(sub_x, sub_x)"
                 " + list_dot_product(sub_c, sub_c) - 2 * ip", 6
             )} AS err
      FROM scored WHERE rn = 1
    )
    SELECT CAST(m AS BIGINT) AS subspace,
           CAST(count(*) AS BIGINT) AS n_vectors,
           {sql_dround(
               "CAST(sum(CAST(err AS DECIMAL(25,6))) AS DOUBLE)"
               " / count(*)", 6
           )} AS mse,
           CAST(max(err) AS DOUBLE) AS max_err
    FROM best GROUP BY m
    """,
)
def q_emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ reconstruction-error audit per subspace: for every vector's
    best sub-centroid (the q_llm_pq_encode assignment), the squared L2
    quantization error ‖x_m − c‖² = x·x + c·c − 2·x·c, aggregated to
    per-subspace count / MSE / max — the codebook-quality diagnostic
    that tells an ANN team WHICH subspace needs more centroids (or a
    rotation/OPQ pass) before recall is lost to quantization, the
    error-side complement of pq_encode's `retained` similarity mass.

    Plan: identical shape to pq_encode — 8× subspace fan-out, argmax
    against the broadcast 128-row sub-codebook via max(struct), then
    one (subspace) hash aggregate over |vectors|×8 narrow rows.
    Determinism: the error closed form uses only sequential-fold dot
    products (exact per-row IEEE), e6-rounded before the decimal-sum
    MSE; max over e6-rounded values is exact."""
    from pyspark.sql import Window

    unit = _unit_frame(spark, sf_dir)
    cents = (
        unit.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(PQ_K)
        .select(
            F.col("vec_id").alias("cell_id"), F.col("unit").alias("centroid")
        )
    )
    cents_k = cents.withColumn(
        "k_id", F.row_number().over(Window.orderBy("cell_id")) - 1
    )
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    subs = unit.select("vec_id", "unit", ms).select(
        "vec_id",
        "m",
        F.slice("unit", F.col("m") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM)).alias(
            "sub_x"
        ),
    )
    csubs = cents_k.select("k_id", "centroid", ms).select(
        "k_id",
        "m",
        F.slice(
            "centroid", F.col("m") * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM)
        ).alias("sub_c"),
    )
    scored = subs.join(F.broadcast(csubs), "m").select(
        "vec_id",
        "m",
        "k_id",
        "sub_x",
        "sub_c",
        dot(F.col("sub_x"), F.col("sub_c")).alias("ip"),
    )
    err = dround(
        dot(F.col("b.sub_x"), F.col("b.sub_x"))
        + dot(F.col("b.sub_c"), F.col("b.sub_c"))
        - 2 * F.col("b.ip"),
        6,
    )
    best = (
        scored.groupBy("vec_id", "m")
        .agg(
            F.max(
                F.struct(
                    F.col("ip"),
                    (-F.col("k_id")).alias("neg_k"),
                    F.col("k_id"),
                    F.col("sub_x"),
                    F.col("sub_c"),
                )
            ).alias("b")
        )
        .select("m", err.alias("err"))
    )
    return best.groupBy(F.col("m").cast("bigint").alias("subspace")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        dround(
            F.sum(F.col("err").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mse"),
        F.max("err").cast("double").alias("max_err"),
    )


@register(
    "q_emb_isotropy",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    expl AS (
      SELECT vec_id, unnest(u) AS val, generate_subscripts(u, 1) AS pos
      FROM unit
    ),
    dimsums AS (
      SELECT pos,
             CAST(sum(CAST(val AS DECIMAL(25,6))) AS DOUBLE) AS s
      FROM expl GROUP BY pos
    ),
    agg AS (
      SELECT CAST(sum(CAST({sql_dround("s * s", 6)}
                      AS DECIMAL(25,6))) AS DOUBLE) AS norm2,
             (SELECT CAST(count(*) AS BIGINT) FROM unit) AS n
      FROM dimsums
    )
    SELECT n AS n_vectors,
           {sql_dround("norm2", 6)} AS sum_vector_norm2,
           {sql_dround(
               "(norm2 - n) / (CAST(n AS DOUBLE) * (n - 1))", 6
           )} AS mean_pairwise_cosine
    FROM agg
    """,
)
def q_emb_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy audit via the sum-vector identity:
    the mean cosine over ALL ordered pairs of unit vectors equals
    (‖Σᵢuᵢ‖² − n) / (n(n−1)) — so the O(n²) statistic comes from ONE
    per-dimension sum pass with no pair ever materialized. High mean
    pairwise cosine = anisotropic cone-shaped embedding space (the
    known degeneracy of contextual embeddings, Ethayarajh 2019 /
    Mu & Viswanath 2018's common-direction finding) — the space-health
    check run before trusting cosine thresholds for semantic dedup or
    retrieval, and the trigger for mean-centering/whitening.

    Plan: posexplode → (dim) hash aggregate of decimal sums (|dims|
    groups at any corpus size), then a |dims|-row fold to ‖Σu‖² and a
    closed form — the entire quadratic statistic in two tiny
    aggregates. Determinism: decimal dim sums, e6-rounded squares
    before the decimal norm fold, exact count arithmetic, e6
    outputs."""
    unit = _unit_frame(spark, sf_dir)  # dim sums + the n-count
    # probe share the memoized normalization pass
    n_df = unit.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dimsums = (
        unit.select(F.posexplode("unit").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.sum(F.col("val").cast("decimal(25,6)"))
            .cast("double")
            .alias("s")
        )
    )
    agg = dimsums.agg(
        F.sum(
            dround(F.col("s") * F.col("s"), 6).cast("decimal(25,6)")
        )
        .cast("double")
        .alias("norm2")
    ).crossJoin(F.broadcast(n_df))
    return agg.select(
        F.col("n").alias("n_vectors"),
        dround(F.col("norm2"), 6).alias("sum_vector_norm2"),
        dround(
            (F.col("norm2") - F.col("n"))
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            6,
        ).alias("mean_pairwise_cosine"),
    )


def _cosine_topk_oracle_sql() -> str:
    from ex_hivent_spark.plans.registry import _REGISTRY

    return _REGISTRY["q_llm_cosine_topk"].oracle


@register(
    "q_llm_ndcg_eval",
    oracle=f"""
    WITH topk AS ({_cosine_topk_oracle_sql()}),
    lab AS (SELECT vec_id, label FROM embeddings),
    rel AS (
      SELECT t.query_id, t.rn,
             CAST(CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END
                  AS BIGINT) AS rel
      FROM topk t
      JOIN lab lq ON lq.vec_id = t.query_id
      JOIN lab ln ON ln.vec_id = t.neighbor_id
    ),
    terms AS (
      SELECT query_id, rn, rel,
             floor(1.0 / (ln(CAST(rn + 1 AS DOUBLE)) / ln(2.0))
                   * 1000000.0 + 0.5) / 1000000.0 AS disc
      FROM rel
    ),
    perq AS (
      SELECT query_id,
             CAST(sum(rel) AS BIGINT) AS n_rel,
             CAST(sum(CAST(rel * disc AS DECIMAL(25,6))) AS DOUBLE)
               AS dcg,
             CAST(sum(CAST(CASE WHEN rn <= (SELECT sum(r2.rel)
                                            FROM rel r2
                                            WHERE r2.query_id
                                                  = terms.query_id)
                            THEN disc ELSE 0 END AS DECIMAL(25,6)))
                  AS DOUBLE) AS idcg
      FROM terms GROUP BY query_id
    )
    SELECT query_id, n_rel,
           CAST(n_rel AS DOUBLE) / {TOP_K} AS precision_at_k,
           dcg,
           CASE WHEN n_rel = 0 THEN 0.0
                ELSE floor(dcg / idcg * 1000000.0 + 0.5) / 1000000.0
           END AS ndcg
    FROM perq
    """,
)
def q_llm_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k retrieval quality over the brute-force cosine top-k run,
    with same-label-as-query as the binary relevance signal (the
    embeddings table's label column is the class ground truth, the
    q_llm_ann_recall convention): per query, DCG = Σ relᵢ/log₂(i+1)
    over the ranked neighbors, normalized by the ideal DCG of the same
    relevance multiset (the first n_rel discounts) — rank-aware where
    q_llm_ann_recall's recall and precision@k are rank-blind, so a
    system that buries its relevant hits at rank k scores lower than
    one that leads with them. One row per query (0 when nothing
    relevant surfaced).

    Plan: the top-k frame (fixed-size broadcast-query machinery of
    q_llm_cosine_topk) joins the label column twice (broadcast-sized
    dimension), then one per-query hash aggregate; everything after
    the base scan is query-count sized. Determinism: relevance is an
    integer; each 1/log₂(i+1) discount e6-rounds its ln ratio (the
    only libm) identically both sides; DCG/IDCG sums ride the decimal
    detour; the closing ratio is e6-rounded. IDCG sums the SAME
    e6-rounded discount grid, so NDCG = 1 exactly when all relevant
    hits lead the ranking."""
    from pyspark.sql import Window

    topk = q_llm_cosine_topk(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lq = em.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
    )
    ln_ = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    rel = (
        topk.join(F.broadcast(lq), "query_id")
        .join(F.broadcast(ln_), "neighbor_id")
        .select(
            "query_id",
            "rn",
            F.when(F.col("ql") == F.col("nl"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("rel"),
        )
    )
    disc = (
        F.floor(
            (F.lit(1.0) / (F.log((F.col("rn") + 1).cast("double")) / F.log(F.lit(2.0))))
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    )
    terms = rel.select("query_id", "rn", "rel", disc.alias("disc"))
    # r17 (guide §2.4): n_rel as a window over query_id instead of a
    # groupBy + broadcast join-back — the broadcast side recomputed the
    # ENTIRE topk subtree (scoring pass + rank window) as its own
    # sequential job before the main job could start; the window rides
    # the same query_id partitioning the final aggregate needs anyway,
    # so the scoring pass now runs exactly once.
    wq = Window.partitionBy("query_id")
    perq = (
        terms.withColumn(
            "n_rel", F.sum("rel").over(wq).cast("bigint")
        )
        .groupBy("query_id")
        .agg(
            F.max("n_rel").alias("n_rel"),
            F.sum((F.col("rel") * F.col("disc")).cast("decimal(25,6)"))
            .cast("double")
            .alias("dcg"),
            F.sum(
                F.when(F.col("rn") <= F.col("n_rel"), F.col("disc"))
                .otherwise(F.lit(0.0))
                .cast("decimal(25,6)")
            )
            .cast("double")
            .alias("idcg"),
        )
    )
    return perq.select(
        "query_id",
        "n_rel",
        (F.col("n_rel").cast("double") / TOP_K).alias("precision_at_k"),
        "dcg",
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(
            F.floor(F.col("dcg") / F.col("idcg") * 1000000.0 + 0.5)
            / 1000000.0
        )
        .alias("ndcg"),
    )


@register(
    "q_emb_label_centroid_sim",
    oracle="""
    WITH dims AS (
      SELECT label, d AS dim,
             CAST(e[d + 1] AS DOUBLE) AS x
      FROM (SELECT label,
                   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
            FROM embeddings)
      CROSS JOIN unnest(range(0, 64)) AS u(d)
    ),
    cent AS (
      SELECT label, dim,
             CAST(sum(CAST(x AS DECIMAL(25,9))) AS DOUBLE) / count(*)
               AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM dims GROUP BY label, dim
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(sum(CAST(a.c * b.c AS DECIMAL(25,12))) AS DOUBLE)
               AS dot,
             CAST(sum(CAST(a.c * a.c AS DECIMAL(25,12))) AS DOUBLE)
               AS na,
             CAST(sum(CAST(b.c * b.c AS DECIMAL(25,12))) AS DOUBLE)
               AS nb,
             CAST(max(a.n) AS BIGINT) AS n_a,
             CAST(max(b.n) AS BIGINT) AS n_b
      FROM cent a JOIN cent b
        ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b, n_a, n_b,
           dot / ((floor(sqrt(na) * 1000000.0 + 0.5) / 1000000.0)
                  * (floor(sqrt(nb) * 1000000.0 + 0.5) / 1000000.0))
             AS centroid_cosine
    FROM pairs ORDER BY label_a, label_b
    """,
)
def q_emb_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-separability audit ("are my labels actually
    distinct regions of embedding space?") that catches label noise
    and collapsed encoders before training: high inter-centroid cosine
    = classes the retrieval/classification stack cannot separate.

    Plan: one posexplode to the (label, dim) grain and a hash
    aggregate to the |labels|×64 centroid frame — everything after is
    label-cardinality sized (the pairwise join is dim-keyed over that
    tiny frame). At 100 TB only the first aggregate touches the
    corpus; it combines map-side. Determinism: per-dimension sums
    ride decimal(25,9) (float inputs are exact in double, magnitudes
    ≤ ~1); centroid products sum through decimal(25,12); the two norm
    sqrts (the only libm) are e6-rounded before the closing
    division."""
    em = load_table(spark, sf_dir, "embeddings")
    dims = em.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        ),
    )
    cent = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(25,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("c").alias("ca"),
        F.col("n").alias("na_cnt"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("c").alias("cb"),
        F.col("n").alias("nb_cnt"),
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("ca") * F.col("cb")).cast("decimal(25,12)"))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("ca") * F.col("ca")).cast("decimal(25,12)"))
            .cast("double")
            .alias("na"),
            F.sum((F.col("cb") * F.col("cb")).cast("decimal(25,12)"))
            .cast("double")
            .alias("nb"),
            F.max("na_cnt").cast("bigint").alias("n_a"),
            F.max("nb_cnt").cast("bigint").alias("n_b"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        (
            F.col("dot")
            / (
                dround(F.sqrt(F.col("na")), 6)
                * dround(F.sqrt(F.col("nb")), 6)
            )
        ).alias("centroid_cosine"),
    ).orderBy("label_a", "label_b")


@register(
    "q_emb_knn_label_accuracy",
    oracle=f"""
    WITH topk AS ({_cosine_topk_oracle_sql()}),
    lab AS (SELECT vec_id, label FROM embeddings),
    votes AS (
      SELECT t.query_id, ln.label AS vote,
             CAST(count(*) AS BIGINT) AS n_votes
      FROM topk t JOIN lab ln ON ln.vec_id = t.neighbor_id
      GROUP BY t.query_id, ln.label
    ),
    pred AS (
      SELECT query_id, vote AS predicted
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY n_votes DESC, vote)
                        AS rn
            FROM votes)
      WHERE rn = 1
    ),
    scored AS (
      SELECT lq.label AS true_label,
             CAST(CASE WHEN p.predicted = lq.label THEN 1 ELSE 0 END
                  AS BIGINT) AS correct
      FROM pred p JOIN lab lq ON lq.vec_id = p.query_id
    )
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(correct) AS BIGINT) AS n_correct,
           CAST(sum(correct) AS DOUBLE) / count(*) AS accuracy
    FROM scored GROUP BY true_label ORDER BY true_label
    """,
)
def q_emb_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification accuracy over the cosine
    top-k run, per true label: each query's label is predicted by the
    plurality of its k=5 neighbors' labels (ties broken toward the
    smaller label id — a fixed total order, stated as part of the
    metric) and scored against the ground truth — the
    embedding-quality leaderboard number next to q_llm_ndcg_eval's
    rank-aware view and q_llm_ann_recall's retrieval view.

    Plan: the fixed-size top-k frame joins the broadcast label
    dimension, a (query, vote) hash aggregate, then the plurality
    pick is a row_number over ≤|labels| rows per query partition —
    everything after the base scan is query-count sized.
    Determinism: votes are integers; the (n_votes DESC, vote)
    tie-break is a total order; accuracy is one exact integer-ratio
    division."""
    from pyspark.sql import Window

    topk = q_llm_cosine_topk(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ln_ = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("vote")
    )
    votes = (
        topk.join(F.broadcast(ln_), "neighbor_id")
        .groupBy("query_id", "vote")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("vote")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("vote").alias("predicted"))
    )
    lq = em.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    scored = pred.join(F.broadcast(lq), "query_id").select(
        "true_label",
        F.when(F.col("predicted") == F.col("true_label"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("correct"),
    )
    return (
        scored.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("correct").cast("bigint").alias("n_correct"),
            (
                F.sum("correct").cast("double") / F.count(F.lit(1))
            ).alias("accuracy"),
        )
        .orderBy("true_label")
    )


@register(
    "q_emb_margin_audit",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id, label,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    q AS (
      SELECT vec_id AS query_id, label AS ql, u AS qu FROM unit
      WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, q.ql, unit.label AS nl,
             floor(list_dot_product(q.qu, unit.u) * 1000000.0 + 0.5)
                 / 1000000.0 AS cosine
      FROM q JOIN unit ON unit.vec_id <> q.query_id
    ),
    best AS (
      SELECT query_id,
             max(CASE WHEN nl = ql THEN cosine END) AS best_pos,
             max(CASE WHEN nl <> ql THEN cosine END) AS best_neg
      FROM scored GROUP BY query_id
    )
    SELECT query_id, best_pos, best_neg,
           best_pos - best_neg AS margin,
           CAST(CASE WHEN best_neg >= best_pos THEN 1 ELSE 0 END
                AS INTEGER) AS violation
    FROM best
    """,
)
def q_emb_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query class-margin audit: for each of the fixed query
    vectors, the best same-label cosine vs the best other-label cosine
    over the whole corpus, their margin, and a violation flag when an
    impostor outranks every genuine neighbor — the triplet-loss-style
    health check (violations are exactly the queries where 1-NN
    classification fails), sharper than q_emb_label_centroid_sim's
    aggregate view because it surfaces the individual failing
    queries.

    Plan: the q_llm_cosine_topk broadcast discipline — the fixed
    query set broadcasts against one streaming corpus scan, then ONE
    conditional-max hash aggregate per query; nothing after the scan
    is corpus-sized. Determinism: cosines are the e6-rounded
    sequential dot products (the similarity-module convention);
    max/compare/subtract are exact."""
    em = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        em.filter(F.col("vec_id") % 50 == 0)
        .orderBy("vec_id")
        .limit(N_QUERIES)
        .select("vec_id", "label", "embedding")
        .collect()
    )  # bounded query set (TakeOrdered, ≤ N_QUERIES rows)
    qlabels = spark.createDataFrame(
        [(r["vec_id"], r["label"]) for r in q_rows],
        "query_id bigint, ql int",
    )
    scored = (
        exact_scores(
            em,
            "vec_id",
            "embedding",
            [(r["vec_id"], np_unit(r["embedding"])) for r in q_rows],
            normalize=True,
            carry=(("label", "int"),),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qlabels), "query_id")
        .select(
            "query_id",
            "ql",
            F.col("label").alias("nl"),
            dround(F.col("dot"), 6).alias("cosine"),
        )
    )
    best = scored.groupBy("query_id").agg(
        F.max(
            F.when(F.col("nl") == F.col("ql"), F.col("cosine"))
        ).alias("best_pos"),
        F.max(
            F.when(F.col("nl") != F.col("ql"), F.col("cosine"))
        ).alias("best_neg"),
    )
    return best.select(
        "query_id",
        "best_pos",
        "best_neg",
        (F.col("best_pos") - F.col("best_neg")).alias("margin"),
        F.when(F.col("best_neg") >= F.col("best_pos"), 1)
        .otherwise(0)
        .cast("int")
        .alias("violation"),
    )


@register(
    "q_llm_mrr_eval",
    oracle=f"""
    WITH topk AS ({_cosine_topk_oracle_sql()}),
    lab AS (SELECT vec_id, label FROM embeddings),
    rel AS (
      SELECT t.query_id, t.rn,
             CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END AS rel
      FROM topk t
      JOIN lab lq ON lq.vec_id = t.query_id
      JOIN lab ln ON ln.vec_id = t.neighbor_id
    )
    SELECT query_id,
           CAST(coalesce(min(CASE WHEN rel = 1 THEN rn END), 0)
                AS BIGINT) AS first_rel_rank,
           CASE WHEN min(CASE WHEN rel = 1 THEN rn END) IS NULL
                THEN 0.0
                ELSE 1.0 / min(CASE WHEN rel = 1 THEN rn END)
           END AS reciprocal_rank,
           CAST(max(rel) AS INTEGER) AS hit_at_k
    FROM rel GROUP BY query_id
    """,
)
def q_llm_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank inputs over the brute-force cosine top-k
    run, same-label-as-query relevance (the q_llm_ndcg_eval / ann
    recall convention): per query, the rank of the FIRST relevant
    neighbor, its reciprocal (0 when nothing relevant surfaced — the
    standard MRR@k truncation), and the hit@k flag. MRR grades the
    single-answer retrieval experience (how far down is the first
    good hit?) where NDCG grades the whole ranking and recall counts
    blind — the three together are the standard embedding-eval
    triptych.

    Plan: the fixed-size top-k frame joins the label column twice
    (broadcast dimensions), one per-query hash aggregate — everything
    past the base scan is query-count sized. Determinism: ranks and
    relevance are integers; 1/rank is a single IEEE division of small
    exact integers, correctly rounded identically in both engines —
    no libm, no float aggregation, nothing to round."""
    topk = q_llm_cosine_topk(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lq = em.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
    )
    ln_ = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    rel = (
        topk.join(F.broadcast(lq), "query_id")
        .join(F.broadcast(ln_), "neighbor_id")
        .select(
            "query_id",
            "rn",
            F.when(F.col("ql") == F.col("nl"), 1).otherwise(0).alias("rel"),
        )
    )
    first = F.min(F.when(F.col("rel") == 1, F.col("rn")))
    return rel.groupBy("query_id").agg(
        F.coalesce(first, F.lit(0)).cast("bigint").alias("first_rel_rank"),
        F.when(first.isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / first)
        .alias("reciprocal_rank"),
        F.max("rel").cast("int").alias("hit_at_k"),
    )


@register(
    "q_llm_map_eval",
    oracle=f"""
    WITH topk AS ({_cosine_topk_oracle_sql()}),
    lab AS (SELECT vec_id, label FROM embeddings),
    rel AS (
      SELECT t.query_id, t.rn,
             CAST(CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END
                  AS BIGINT) AS rel
      FROM topk t
      JOIN lab lq ON lq.vec_id = t.query_id
      JOIN lab ln ON ln.vec_id = t.neighbor_id
    ),
    cum AS (
      SELECT query_id, rn, rel,
             CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rn
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS ch
      FROM rel
    ),
    terms AS (
      SELECT query_id, rel,
             CASE WHEN rel = 1
                  THEN {sql_dround("CAST(ch AS DOUBLE) / rn", 6)}
                  ELSE 0.0 END AS pterm
      FROM cum
    )
    SELECT query_id,
           CAST(sum(rel) AS BIGINT) AS n_rel,
           CASE WHEN sum(rel) = 0 THEN 0.0
                ELSE {sql_dround(
                    "CAST(sum(CAST(pterm AS DECIMAL(25,6))) AS DOUBLE)"
                    " / sum(rel)", 6)}
           END AS avg_precision
    FROM terms GROUP BY query_id
    """,
)
def q_llm_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Precision@k per query over the brute-force cosine top-k
    run, same-label-as-query relevance (the q_llm_ndcg_eval / mrr
    convention): AP = (Σᵢ relᵢ·P@i) / n_rel with P@i the precision at
    each relevant hit's rank — the area-under-PR-curve reading whose
    mean over queries is MAP, rewarding rankings that FRONT-load their
    relevant hits harder than NDCG's log discount does. Queries with
    nothing relevant in the top-k read 0, the standard truncation.

    Plan: the fixed-size top-k frame joins the broadcast label column
    twice, one k-bounded cumulative window per query, one per-query
    hash aggregate — everything past the base scan is query-count
    sized. Determinism: hit counts are integers, each P@i is one
    small-integer IEEE division e6-rounded, the per-query sum of ≤ k
    terms rides the decimal detour, the closing ratio is e6-rounded;
    no libm."""
    from pyspark.sql import Window

    topk = q_llm_cosine_topk(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lq = em.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
    )
    ln_ = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    rel = (
        topk.join(F.broadcast(lq), "query_id")
        .join(F.broadcast(ln_), "neighbor_id")
        .select(
            "query_id",
            "rn",
            F.when(F.col("ql") == F.col("nl"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("rel"),
        )
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rel.select(
        "query_id",
        "rn",
        "rel",
        F.sum("rel").over(w).cast("bigint").alias("ch"),
    )
    terms = cum.select(
        "query_id",
        "rel",
        F.when(
            F.col("rel") == 1,
            dround(F.col("ch").cast("double") / F.col("rn"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("pterm"),
    )
    return terms.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.when(F.sum("rel") == 0, F.lit(0.0))
        .otherwise(
            dround(
                F.sum(F.col("pterm").cast("decimal(25,6)")).cast("double")
                / F.sum("rel"),
                6,
            )
        )
        .alias("avg_precision"),
    )


# Precision/recall cut grid for q_llm_pr_at_k (≤ TOP_K).
_PR_KS = (1, 3, 5)


@register(
    "q_llm_pr_at_k",
    oracle=f"""
    WITH topk AS ({_cosine_topk_oracle_sql()}),
    lab AS (SELECT vec_id, label FROM embeddings),
    cs AS (
      SELECT label, CAST(count(*) AS BIGINT) AS class_n
      FROM embeddings GROUP BY label
    ),
    rel AS (
      SELECT t.query_id, t.rn, lq.label AS ql,
             CAST(CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END
                  AS BIGINT) AS rel
      FROM topk t
      JOIN lab lq ON lq.vec_id = t.query_id
      JOIN lab ln ON ln.vec_id = t.neighbor_id
    ),
    cuts AS (
      SELECT r.query_id, k.k, r.ql,
             CAST(sum(CASE WHEN r.rn <= k.k THEN r.rel ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM rel r
      CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in _PR_KS)}])
                    AS k) k
      GROUP BY r.query_id, k.k, r.ql
    )
    SELECT c.query_id, CAST(c.k AS BIGINT) AS k, c.n_hits,
           {sql_dround("CAST(c.n_hits AS DOUBLE) / c.k", 6)}
             AS precision_at_k,
           CASE WHEN cs.class_n <= 1 THEN NULL
                ELSE {sql_dround(
                    "CAST(c.n_hits AS DOUBLE) / (cs.class_n - 1)", 6)}
           END AS recall_at_k
    FROM cuts c JOIN cs ON cs.label = c.ql
    """,
)
def q_llm_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@k and recall@k per query at the k ∈ {1, 3, 5} cut
    grid over the brute-force cosine top-k run, same-label-as-query
    relevance: precision = hits≤k / k, recall = hits≤k / (class size
    − 1) (own-class corpus members excluding the query itself — the
    q_llm_ann_recall ground-truth base). The cut grid reads the
    precision/recall trade-off curve that single-k evals flatten;
    a singleton class (no possible relevant neighbor) reads NULL
    recall rather than an engine-specific 0/0.

    Plan: the fixed-size top-k frame joins the broadcast label column
    twice, a constant 3× cut explode, one per-(query, k) hash
    aggregate, and a broadcast class-size join — everything past the
    base scan is query-count sized. Determinism: hit counts are exact
    integers; the two closing divisions are e6-rounded small-integer
    IEEE ratios; no libm, no float aggregation."""
    topk = q_llm_cosine_topk(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lq = em.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
    )
    ln_ = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    cs = em.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_n")
    )
    rel = (
        topk.join(F.broadcast(lq), "query_id")
        .join(F.broadcast(ln_), "neighbor_id")
        .select(
            "query_id",
            "rn",
            "ql",
            F.when(F.col("ql") == F.col("nl"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("rel"),
        )
    )
    ks = F.explode(
        F.array(*[F.lit(k) for k in _PR_KS])
    ).alias("k")
    cuts = (
        rel.select("query_id", "rn", "ql", "rel", ks)
        .groupBy("query_id", "k", "ql")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("k"), F.col("rel")).otherwise(0))
            .cast("bigint")
            .alias("n_hits")
        )
    )
    out = cuts.join(
        F.broadcast(cs), cuts["ql"] == cs["label"]
    )
    return out.select(
        "query_id",
        F.col("k").cast("bigint").alias("k"),
        "n_hits",
        dround(F.col("n_hits").cast("double") / F.col("k"), 6).alias(
            "precision_at_k"
        ),
        F.when(F.col("class_n") <= 1, F.lit(None).cast("double"))
        .otherwise(
            dround(
                F.col("n_hits").cast("double") / (F.col("class_n") - 1), 6
            )
        )
        .alias("recall_at_k"),
    )


# Johnson-Lindenstrauss audit: project to k dimensions with the same
# deterministic md5 hyperplanes as sign-LSH; entries are uniform on
# [-1, 1) (variance 1/3), so the unbiased squared-distance estimator
# scales by 3/k = 0.1875 exactly.
_JL_K = 16
_JL_SCALE = 3.0 / _JL_K
_JL_SAMPLE_MOD = 50
_JL_SAMPLE_N = 20


def _jl_oracle_sql() -> str:
    planes = _plane_matrix(_JL_K)
    proj_cols = ",\n             ".join(
        f"list_dot_product(dv, {_plane_sql(planes[j])}) AS p{j}"
        for j in range(_JL_K)
    )
    sq_chain = " + ".join(f"p{j} * p{j}" for j in range(_JL_K))
    scale = "CAST(0.1875 AS DOUBLE)"
    return f"""
    WITH samp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id % {_JL_SAMPLE_MOD} = 0
      ORDER BY vec_id LIMIT {_JL_SAMPLE_N}
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_transform(range(1, {EMBED_DIM + 1}),
                            i -> a.e[i] - b.e[i]) AS dv
      FROM samp a JOIN samp b ON a.vec_id < b.vec_id
    ),
    proj AS (
      SELECT vec_a, vec_b,
             list_sum(list_transform(dv, x -> x * x)) AS d2,
             {proj_cols}
      FROM pairs
    )
    SELECT vec_a, vec_b,
           floor(d2 * 1000000.0 + 0.5) / 1000000.0 AS d2_orig,
           floor({scale} * ({sq_chain}) * 1000000.0 + 0.5) / 1000000.0
             AS d2_proj,
           CASE WHEN d2 = 0 THEN NULL
                ELSE floor({scale} * ({sq_chain}) / d2 * 1000000.0 + 0.5)
                     / 1000000.0 END AS ratio
    FROM proj
    """


@register("q_emb_jl_distortion", oracle=_jl_oracle_sql())
def q_emb_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection distortion audit: squared
    pairwise distances of a bounded deterministic vector sample,
    before and after projecting 64 → 16 dimensions through the
    engine's md5 hyperplanes (the sign-LSH planes, here used as the
    dense random map; uniform [−1,1) entries ⇒ the unbiased estimator
    scales by 3/k). ratio near 1 per pair is the JL guarantee holding
    — the audit that justifies running the CHEAP 16-d distance in a
    first-pass ANN/dedup filter and the full 64-d math only on
    survivors (the q_llm_pq_distortion companion for dense maps).

    Plan: the sample is 20 vectors (one broadcast), pairs are 190
    rows; each pair does one 64-element difference fold, sixteen
    literal-plane dot products, and per-row IEEE closings — nothing
    touches the full corpus beyond the sampled scan (id-filter pushes
    to the scan). At production scale the same literal-matrix
    projection runs over the whole table as a map-only pass.
    Determinism: the projection matrix is ordinary double literals
    identical in both engines; every fold (zip-diff, squared sums,
    dot products) uses the established sequential order; the three
    outputs are e6-rounded; coincident vectors (d2 = 0) yield NULL
    ratio identically."""
    em = load_table(spark, sf_dir, "embeddings")
    samp = (
        em.filter(F.col("vec_id") % _JL_SAMPLE_MOD == 0)
        .orderBy("vec_id")
        .limit(_JL_SAMPLE_N)
        .select("vec_id", "embedding")
    )
    a = samp.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = samp.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b")).select(
        "vec_a",
        "vec_b",
        F.zip_with(
            "ea", "eb", lambda x, y: x.cast("double") - y.cast("double")
        ).alias("dv"),
    )
    d2 = F.aggregate(
        F.transform("dv", lambda x: x * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # One fused Arrow pass for all K projections (was K per-plane HOF
    # folds); the pj² left-chain below keeps the original addition
    # order, so values are bit-identical.
    pairs = pairs.withColumn(
        "_pj", projections(F.col("dv"), _planes_tuple(_JL_K))
    )
    proj_sq = None
    for k in range(_JL_K):
        pj = F.element_at(F.col("_pj"), k + 1)
        term = pj * pj
        proj_sq = term if proj_sq is None else proj_sq + term
    scored = pairs.select(
        "vec_a",
        "vec_b",
        dround(d2, 6).alias("d2_orig"),
        dround(_JL_SCALE * proj_sq, 6).alias("d2_proj"),
        F.when(d2 == 0, F.lit(None).cast("double"))
        .otherwise(dround(_JL_SCALE * proj_sq / d2, 6))
        .alias("ratio"),
    )
    return scored


# nprobe grid swept by the IVF tuning curve (recall@TOP_K and scan
# cost per probe budget; N_PROBE=4 is the production default above).
_NPROBE_GRID = (1, 2, 4, 8)


@register(
    "q_llm_ivf_nprobe_sweep",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(e,
               x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS u
      FROM emb
    ),
    q AS (SELECT vec_id AS query_id, u AS qu FROM unit
          WHERE vec_id % 50 = 0),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY floor(list_dot_product(q.qu, v.u) * 1000000.0
                                + 0.5) / 1000000.0 DESC, v.vec_id) AS rn
        FROM q JOIN unit v ON v.vec_id <> q.query_id
      ) WHERE rn <= {TOP_K}
    ),
    cents AS (
      SELECT vec_id AS cell_id, u AS centroid FROM unit
      WHERE vec_id % 37 = 1 ORDER BY vec_id LIMIT {N_CELLS}
    ),
    sims AS (
      SELECT v.vec_id, c.cell_id,
             list_dot_product(v.u, c.centroid) AS csim
      FROM unit v CROSS JOIN cents c
    ),
    assigned AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cell_id) AS rn
      FROM sims
    ),
    members AS (SELECT vec_id, cell_id FROM assigned WHERE rn = 1),
    cell_sizes AS (
      SELECT cell_id, CAST(count(*) AS BIGINT) AS sz
      FROM members GROUP BY cell_id
    ),
    pranks AS (
      SELECT vec_id AS query_id, cell_id, rn AS prank
      FROM assigned WHERE vec_id % 50 = 0
    ),
    grid AS (SELECT CAST(unnest([{", ".join(str(p) for p in _NPROBE_GRID)}])
                    AS BIGINT) AS n_probe),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q),
    hits AS (
      SELECT g.n_probe, e.query_id,
             CASE WHEN pr.prank <= g.n_probe THEN 1 ELSE 0 END AS hit
      FROM exact e
      JOIN members m ON m.vec_id = e.neighbor_id
      JOIN pranks pr ON pr.query_id = e.query_id
                    AND pr.cell_id = m.cell_id
      CROSS JOIN grid g
    ),
    scans AS (
      SELECT g.n_probe, pr.query_id,
             CAST(sum(cs.sz) AS BIGINT) AS scanned
      FROM pranks pr
      JOIN cell_sizes cs ON cs.cell_id = pr.cell_id
      CROSS JOIN grid g
      WHERE pr.prank <= g.n_probe
      GROUP BY g.n_probe, pr.query_id
    )
    SELECT h.n_probe,
           max(nq.n_queries) AS n_queries,
           {sql_dround(
               f"CAST(sum(h.hit) AS DOUBLE)"
               f" / ({TOP_K} * max(nq.n_queries))", 6)} AS recall_at_{TOP_K},
           {sql_dround(
               "(SELECT CAST(sum(s.scanned) AS DOUBLE) FROM scans s"
               "  WHERE s.n_probe = h.n_probe)"
               " / max(nq.n_queries)", 6)} AS avg_scanned
    FROM hits h CROSS JOIN nq
    GROUP BY h.n_probe
    """,
)
def q_llm_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-budget tuning curve: recall@{TOP_K} of the IVF
    candidate set against the exact brute-force top-{TOP_K}, and the
    mean number of vectors scanned, for nprobe ∈ {_NPROBE_GRID} —
    THE recall-vs-cost curve an ANN deployment reads before fixing
    its probe budget (q_llm_ann_recall measures one operating point;
    this sweeps the knob). The trick that makes the sweep one pass:
    an exact neighbor is recalled at budget p iff the RANK of its
    member cell in the query's probe ordering is ≤ p — so one
    (neighbor → cell → probe-rank) join scores EVERY budget
    simultaneously; no per-budget candidate join exists.

    Plan: the exact side is the bounded brute-force baseline over
    the |corpus|/50 query subset (broadcast queries, one corpus
    pass); the probe side reuses the IVF assignment machinery
    (broadcast 16-cell codebook); the per-budget closing crosses a
    4-row literal grid. Determinism: cell assignment/probe ranks are
    the exact argmax/rank orderings of q_llm_ivf_topk; recall and
    scan counts are integer ratios, e6-rounded."""
    from pyspark.sql import Window

    em = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        em.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .collect()
    )  # the sampled query set (n/50 — the docstring's scale contract)
    exact_scored = (
        exact_scores(
            em,
            "vec_id",
            "embedding",
            [(r["vec_id"], np_unit(r["embedding"])) for r in q_rows],
            normalize=True,
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dround(F.col("dot"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    exact_topk = (
        exact_scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    c_rows = (
        em.filter(F.col("vec_id") % 37 == 1)
        .orderBy("vec_id")
        .limit(N_CELLS)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded centroid seed (TakeOrdered, ≤ N_CELLS rows)
    sims = exact_scores(
        em,
        "vec_id",
        "embedding",
        [(r["vec_id"], np_unit(r["embedding"])) for r in c_rows],
        normalize=True,
    ).select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("query_id").alias("cell_id"),
        F.col("dot").alias("csim"),
    ).localCheckpoint(eager=False)  # feeds members AND probe ranks
    members = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell_id")).alias("neg"),
                    F.col("cell_id"),
                )
            ).alias("b")
        )
        .select("vec_id", F.col("b.cell_id").alias("cell_id"))
        .localCheckpoint(eager=False)  # feeds hits AND cell sizes
    )
    cell_sizes = members.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    pranks = (
        sims.filter(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            "cell_id",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("csim").desc(), "cell_id"
                )
            ).alias("prank"),
        )
        .localCheckpoint(eager=False)  # feeds hits AND scans
    )
    grid = spark.createDataFrame(
        [(p,) for p in _NPROBE_GRID], "n_probe bigint"
    )
    nq = spark.createDataFrame(
        [(len(q_rows),)], "n_queries bigint"
    )
    hits = (
        exact_topk.join(
            members.withColumnRenamed("vec_id", "neighbor_id"),
            "neighbor_id",
        )
        .join(pranks, ["query_id", "cell_id"])
        .crossJoin(F.broadcast(grid))
        .select(
            "n_probe",
            F.when(F.col("prank") <= F.col("n_probe"), 1)
            .otherwise(0)
            .alias("hit"),
        )
    )
    scans = (
        pranks.join(F.broadcast(cell_sizes), "cell_id")
        .crossJoin(F.broadcast(grid))
        .filter(F.col("prank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.sum("sz").cast("bigint").alias("scanned_total"))
    )
    agg = (
        hits.groupBy("n_probe")
        .agg(F.sum("hit").cast("bigint").alias("n_hits"))
        .join(scans, "n_probe")
        .crossJoin(F.broadcast(nq))
    )
    return agg.select(
        "n_probe",
        "n_queries",
        dround(
            F.col("n_hits").cast("double")
            / (TOP_K * F.col("n_queries")),
            6,
        ).alias(f"recall_at_{TOP_K}"),
        dround(
            F.col("scanned_total").cast("double") / F.col("n_queries"), 6
        ).alias("avg_scanned"),
    )

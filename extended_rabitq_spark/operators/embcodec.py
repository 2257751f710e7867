"""Embedding STORAGE codec: per-vector symmetric int8 quantization.

Distinct from the RaBitQ index codes (``operators/rabitq.py`` quantizes
rotated residuals for SEARCH): this codec shrinks the embedding COLUMN
itself for at-rest storage and shuffle — fp32 ``array<float>`` →
``array<tinyint>`` + one float scale ≈ 4× smaller, which at 100 TB of
training-corpus embeddings is the difference between one storage tier
and the next.  Everything is a single codegen projection (map-only, no
shuffle, no Python): scale = max|x| / 127, code = ⌊x/scale + 0.5⌋
(floor-plus-half keeps the rounding identical across engines — the P6
convention), dequant = code · scale.  Zero vectors get scale 0 and
all-zero codes, dequantizing losslessly.

Reconstruction error is bounded by scale/2 per coordinate (≤ max|x| /
254), which preserves neighborhood structure: the recall of exact KNN
over dequantized embeddings vs the fp32 originals is tested ≥ 0.9 on
the fixture (tests/test_knn.py::TestInt8EmbeddingCodec).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_embeddings_int8(
    df: DataFrame, vec: str = "embedding", scale_col: str = "scale",
    code_col: str = "code_i8",
) -> DataFrame:
    """Append ``scale`` (DOUBLE) and ``code_i8`` (ARRAY<TINYINT>) columns;
    drops the original vector column (the point is storing codes)."""
    scale = f"CAST(array_max(transform({vec}, v -> abs(CAST(v AS DOUBLE)))) AS DOUBLE) / 127.0"
    codes = (
        f"CASE WHEN ({scale}) = 0 THEN transform({vec}, v -> CAST(0 AS TINYINT)) "
        f"ELSE transform({vec}, v -> CAST(floor(CAST(v AS DOUBLE) / ({scale}) + 0.5) AS TINYINT)) END"
    )
    return df.withColumn(scale_col, F.expr(scale)).withColumn(
        code_col, F.expr(codes)
    ).drop(vec)


def dequantize_embeddings_int8(
    df: DataFrame, vec: str = "embedding", scale_col: str = "scale",
    code_col: str = "code_i8",
) -> DataFrame:
    """Inverse: reconstruct a DOUBLE vector column from codes + scale."""
    expr = (
        f"transform({code_col}, c -> CAST(c AS DOUBLE) * {scale_col})"
    )
    return df.withColumn(vec, F.expr(expr)).drop(code_col, scale_col)


def knn_int8_rerank(
    queries: DataFrame,
    base: DataFrame,
    coarse_k: int = 50,
    k: int = 10,
) -> DataFrame:
    """Two-phase KNN over int8-quantized STORAGE → ``(qid, rank, id, dist)``:
    phase 1 ranks by L2 on the dequantized codes (the cheap scan — at 100 TB
    the fp32 column stays in cold storage and only ``array<tinyint>`` codes
    are read, 4× less IO), keeps ``coarse_k`` per query; phase 2 recomputes
    the EXACT fp32 distance on those candidates only
    (:func:`knn.rerank_exact`: the shortlist broadcasts into the fp32 scan,
    which is never shuffled) and keeps top ``k``.

    This is the scalar-quantization serving pattern (the SQ analog of the
    RaBitQ estimate→rerank pipeline, E1-E3 of SURVEY §2): estimate on codes,
    rerank exact.  The ``coarse_k/k`` overfetch covers the ≤ scale/2
    per-coordinate reconstruction error.  Deterministic: dequantized values
    are exact products of small integers and one scale, ranks tie-break by
    id.

    ``queries``: (qid, qvec); ``base``: (id, vec) fp32.
    """
    from ..functions import vector as V
    from .knn import rerank_exact, topk

    # Materialize scale → codes → dequantized array as COLUMNS in staged
    # projections: embedding a compound expression inside zip_with would
    # re-evaluate it per ELEMENT (Spark higher-order lambdas inline
    # subexpressions — the NOTES pitfall; measured 87 s → ~4 s at 20k×64
    # for this exact query).  The staged form is also the honest storage
    # model: at rest only (scale, code_i8) exist and `dvec` is one
    # map-only projection over them.
    dq = dequantize_embeddings_int8(
        quantize_embeddings_int8(base, vec="vec"), vec="dvec"
    )
    cand = dq.crossJoin(F.broadcast(queries)).select(
        "qid", "id", F.expr(V.l2sq("qvec", "dvec")).alias("dist_q")
    )
    return rerank_exact(topk(cand, coarse_k, by="dist_q"), queries, base, k)


def d_knn_int8_rerank(nq: int = 10, coarse_k: int = 50, k: int = 10) -> str:
    """DuckDB oracle textually parallel to :func:`knn_int8_rerank`.
    ``floor`` stays DOUBLE in DuckDB but its value is the TINYINT code
    exactly (|code| ≤ 127), so ``floor(...) * scale`` reproduces Spark's
    ``CAST(code AS DOUBLE) * scale`` bitwise."""
    from .. import oracle as O

    deq = (
        "CASE WHEN (CAST(list_max(list_transform(vec, v -> abs(CAST(v AS DOUBLE)))) AS DOUBLE) / 127.0) = 0 "
        "THEN list_transform(vec, v -> CAST(0 AS DOUBLE)) "
        "ELSE list_transform(vec, v -> floor(CAST(v AS DOUBLE) / "
        "(CAST(list_max(list_transform(vec, v2 -> abs(CAST(v2 AS DOUBLE)))) AS DOUBLE) / 127.0) + 0.5) * "
        "(CAST(list_max(list_transform(vec, v3 -> abs(CAST(v3 AS DOUBLE)))) AS DOUBLE) / 127.0)) END"
    )
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {nq}),
b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {nq}),
cp AS (SELECT q.qid, b.id, q.qvec, b.vec,
              {O.l2sq('q.qvec', f'({deq})')} AS dist_q
       FROM b CROSS JOIN q),
cand AS (SELECT qid, id, qvec, vec FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY qid
              ORDER BY dist_q ASC, id ASC) AS BIGINT) AS crank FROM cp)
    WHERE crank <= {coarse_k}),
fin AS (SELECT qid, id, {O.l2sq('qvec', 'vec')} AS dist FROM cand),
rk AS (SELECT qid, id, dist,
              CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dist ASC, id ASC) AS BIGINT) AS rank
       FROM fin)
SELECT qid, rank, id, dist FROM rk WHERE rank <= {k}
"""

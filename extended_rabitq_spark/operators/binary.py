"""Binary (1-bit sign) vector codes + Hamming-distance search.

The storage-minimal end of the quantization spectrum the reference's
RaBitQ generalizes (B=1 RaBitQ *is* sign binarization plus scaling
factors, ``inc/index/Quantizer.hpp:356-361``): keep only ``sign(x_i)``
per dimension — 1 bit instead of 32 — and rank candidates by Hamming
distance, the count of differing sign bits.  Beyond-reference surface:
the reference never exposes raw-Hamming search, but it is the standard
baseline every binary-embedding pipeline (BQ / binary MRL serving) runs,
and its **integer** distances make it the cleanest driver-hashable
approximate row (no float folds anywhere).

Spark-first shapes:

- Distances are pure column expressions (``functions.vector.hamming``)
  — whole-stage codegen, no Python, no shuffle until the per-query
  top-k window (partial ``WindowGroupLimit`` cuts map-side).
- :func:`hamming_knn` ranks by ``(hamming, id)`` — a deterministic total
  order in integers, so the DuckDB oracle matches bit-for-bit trivially.
- :func:`hamming_rerank_knn` is the E1→E3 two-phase shape shared with
  ``knn_int8_rerank``/``knn_pq_adc``: Hamming shortlist (overfetch),
  exact fp32 re-rank of the broadcast shortlist only.
- :func:`pack_sign_bits` / :func:`hamming_knn_packed` is the scale
  form: bits packed 32-per-BIGINT word (a set MSB in a 64-bit pack
  would overflow signed BIGINT under ANSI arithmetic), distance =
  Σ ``bit_count(xor)`` per word — D/32 word ops per pair instead of D
  float ops.  Value-equal to the unpacked form (tested), so it shares
  the same oracle story.

At 100 TB: a dedicated binary sink would store D/8 bytes per vector
(32× under fp32; the parquet array<bigint> form lands at D/4) — the
estimate scan is map-only over the code table, and the fp32 column is
touched only by the rank-bounded rerank join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from .knn import rerank_exact, topk


def binary_codes(df: DataFrame, vec: str = "vec", id_: str = "id") -> DataFrame:
    """(id, bits ARRAY<INT>) — 1-bit sign codes (strict ``x > 0``)."""
    return df.select(F.col(id_), F.expr(V.sign_bits(vec)).alias("bits"))


def pack_sign_bits(df: DataFrame, vec: str = "vec", id_: str = "id") -> DataFrame:
    """(id, words ARRAY<BIGINT>) — sign bits packed 32-per-word, MSB-first
    within each word (32 not 64: a set MSB in a 64-bit pack overflows
    signed BIGINT under ANSI arithmetic).  Trailing dims of a short final
    word pack as 0-bits (zero-pad maps to sign bit 0, matching
    ``sign_bits``)."""
    bits = V.sign_bits(vec)
    # try_element_at, not element_at: under ANSI mode (Spark 4 default)
    # element_at THROWS on the out-of-bounds tail positions of a short
    # final word — the coalesce zero-pad only ever sees NULLs from the
    # try_ variant.
    return df.select(
        F.col(id_),
        F.expr(
            f"transform(sequence(0, CAST(ceil(size({vec}) / 32.0) AS INT) - 1, 1), "
            f"w -> aggregate(sequence(0, 31, 1), CAST(0 AS BIGINT), "
            f"(acc, j) -> acc * 2 + CAST(coalesce(try_element_at({bits}, w * 32 + j + 1), 0) AS BIGINT)))"
        ).alias("words"),
    )


def hamming_knn(queries: DataFrame, base: DataFrame, k: int) -> DataFrame:
    """Exact Hamming top-k over sign codes → (qid, rank, id, hamming).

    ``hamming`` is BIGINT — integer end-to-end, no float folds."""
    pairs = base.crossJoin(F.broadcast(queries))
    return topk(
        pairs.select("qid", "id", F.expr(V.hamming("qvec", "vec")).alias("hamming")),
        k, by="hamming",
    )


def hamming_knn_packed(queries: DataFrame, base: DataFrame, k: int) -> DataFrame:
    """Scale twin of :func:`hamming_knn`: distance = Σ bit_count(xor) over
    the packed words (32 sign bits per BIGINT — see
    :func:`pack_sign_bits`).  Value-equal by construction (tested)."""
    qb = pack_sign_bits(queries, vec="qvec", id_="qid").withColumnRenamed("words", "qwords")
    bb = pack_sign_bits(base)
    pairs = bb.crossJoin(F.broadcast(qb))
    ham = (
        "CAST(aggregate(zip_with(qwords, words, (a, b) -> bit_count(a ^ b)), "
        "0, (acc, v) -> acc + v) AS BIGINT)"
    )
    return topk(pairs.select("qid", "id", F.expr(ham).alias("hamming")), k, by="hamming")


def hamming_rerank_knn(
    queries: DataFrame, base: DataFrame, coarse_k: int, k: int
) -> DataFrame:
    """Two-phase binary search → (qid, rank, id, dist): Hamming shortlist
    (ties → smaller id), exact fp32 L2 re-rank of the shortlist only."""
    return rerank_exact(hamming_knn(queries, base, k=coarse_k), queries, base, k)

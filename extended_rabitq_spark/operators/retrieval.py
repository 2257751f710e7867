"""Sparse + hybrid retrieval operators (beyond-reference, LLM/RAG pipeline).

Three first-class retrieval shapes a training-data / RAG pipeline needs on
top of the pure vector search the reference provides
(``src/test_search.cpp``):

- :func:`bm25_topk` — BM25 keyword retrieval over the documents table.
- :func:`hybrid_rrf_topk` — reciprocal-rank fusion of the BM25 ranking and
  the embedding-cosine ranking (the standard hybrid-search combiner).
- :func:`mrl_prefix_knn` — Matryoshka-style two-phase KNN: coarse search on
  a prefix of the embedding dimensions, exact re-rank on the full vector.

Cross-engine exactness conventions (shared with ``textops``/``cleanops``):

- BM25 uses the probability-ratio idf ``(N - df + 0.5)/(df + 0.5) + 1``
  (the argument of Lucene's ``ln``-idf — a monotone transform, libm-free)
  and per-term **fixed-point** scores ``floor(1e6·s + 0.5)`` summed as
  BIGINT, so the cross-term sum is order-independent and bitwise identical
  in Spark and DuckDB (the ``token_pmi`` convention).
- RRF contributions are pure integer division ``1000000 div (60 + rank)``
  — exact in both engines, no floats anywhere in the fusion.
- The MRL coarse/fine distances fold left-to-right in DOUBLE via
  ``functions.vector`` so the DuckDB oracle reproduces them bitwise.

100 TB design notes (per operator in the docstrings): one tokenize pass,
query-term filters applied BEFORE any aggregation (predicate pushdown into
the scan projection), broadcast query tables, per-query rank windows (never
a global sort), and rank-bounded inputs to the fusion join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T

# BM25 constants (the standard Robertson defaults).  Written as decimal
# literals in BOTH engines' SQL so they parse to identical doubles.
BM25_K1_PLUS1 = "2.2"   # k1 + 1,      k1 = 1.2
BM25_K1_1MB = "0.3"     # k1 * (1-b),  b  = 0.75
BM25_K1_B = "0.9"       # k1 * b
RRF_K = 60              # the standard reciprocal-rank-fusion constant
RRF_SCALE = 1000000     # integer numerator: 1e6 div (60 + rank)

# Pinned BM25 demo queries over the synthetic corpus vocabulary ('dup' is
# the one rare term — df ≈ 5% — so idf actually differentiates).
PINNED_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["dup", "scan", "merge"]),
    (2, ["hash", "join", "table"]),
    (3, ["window", "sort", "stream"]),
    (4, ["vector", "query", "fast"]),
]


def _bm25_term_fp(tf: str, df: str, dl: str, n_docs: str, total_len: str) -> str:
    """Fixed-point per-(doc, term) BM25 contribution — SQL text valid in
    BOTH Spark and DuckDB (identical expression tree → identical IEEE
    rounding; single floor at the end).  All operands must already be
    BIGINT columns."""
    idf = (
        f"((CAST({n_docs} AS DOUBLE) - CAST({df} AS DOUBLE) + 0.5) / "
        f"(CAST({df} AS DOUBLE) + 0.5) + 1.0)"
    )
    avgdl = f"(CAST({total_len} AS DOUBLE) / CAST({n_docs} AS DOUBLE))"
    tfp = (
        f"((CAST({tf} AS DOUBLE) * {BM25_K1_PLUS1}) / "
        f"(CAST({tf} AS DOUBLE) + {BM25_K1_1MB} + {BM25_K1_B} * "
        f"(CAST({dl} AS DOUBLE) / {avgdl})))"
    )
    return f"CAST(floor(1000000.0 * ({idf} * {tfp}) + 0.5) AS BIGINT)"


def _doc_tokens(docs: DataFrame, text: str = "text") -> DataFrame:
    """One tokenize pass → (doc_id, dl, tok) with dl = per-doc token count.

    The array is produced and consumed in one generator projection (the
    explode-fusion rule from NOTES) — no second tokenize pass for dl."""
    return docs.select(
        "doc_id", F.expr(T.tokens(text)).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.explode("toks").alias("tok"),
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: DataFrame,
    text: str = "text",
) -> DataFrame:
    """BM25 scores → ``(query_id, doc_id, score_fp)`` for every (query,
    doc) pair with ≥1 matching term.

    ``query_terms``: small DataFrame ``(query_id BIGINT, term STRING)`` —
    broadcast.  Shape: ONE tokenize+explode pass over the corpus, the
    distinct-term filter applied BEFORE the (doc, tok) aggregate (only
    matching tokens ever reach a shuffle — at 100 TB the non-matching
    ~99% of tokens die in the scan stage), document frequency as a window
    ``count(*)`` over the tiny restricted tf table (tf is unique per
    (doc, tok), so rows per tok IS the df), corpus stats as one 2-column
    aggregate broadcast to the score projection, and a final
    (query_id, doc_id) partial-agg sum of BIGINT fixed-point terms."""
    term_set = query_terms.select(F.col("term").alias("tok")).distinct()
    tok = _doc_tokens(docs, text)
    tf = (
        tok.join(F.broadcast(term_set), "tok", "left_semi")
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfx = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("tok")).cast("bigint")
    )
    # dl is map-only per doc (size of the token array) — the corpus stats
    # need one dedicated aggregate over the docs table, not the token rows.
    stats = docs.select(
        F.expr(f"size({T.tokens(text)})").cast("bigint").alias("_dl")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_dl").cast("bigint").alias("total_len"),
    )
    scored = (
        dfx.join(F.broadcast(query_terms), dfx.tok == query_terms.term)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_fp",
            F.expr(_bm25_term_fp("tf", "df", "dl", "n_docs", "total_len")),
        )
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_fp").cast("bigint").alias("score_fp")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    text: str = "text",
) -> DataFrame:
    """Top-k BM25 retrieval → ``(query_id, rnk, doc_id, score_fp)``.

    Per-query rank window (never a global sort); ties break by doc_id so
    the output is deterministic and integer-typed end-to-end."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_fp").desc(), F.col("doc_id").asc()
    )
    return (
        bm25_scores(docs, query_terms, text)
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "score_fp")
    )


def d_bm25_topk(
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    table: str = "documents",
) -> str:
    """DuckDB oracle textually parallel to :func:`bm25_topk`."""
    vals = ", ".join(
        f"(CAST({qid} AS BIGINT), '{t}')" for qid, ts in queries for t in ts
    )
    all_terms = ", ".join(
        f"'{t}'" for t in sorted({t for _, ts in queries for t in ts})
    )
    toks = T.d_tokens("text")
    term_fp = _bm25_term_fp("tf", "df", "dl", "n_docs", "total_len")
    return f"""
WITH qt AS (SELECT * FROM (VALUES {vals}) AS v(query_id, term)),
tk AS (SELECT doc_id, {toks} AS toks FROM {table}),
tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM tk),
tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       FROM tok WHERE tok IN ({all_terms}) GROUP BY 1, 2, 3),
dfx AS (SELECT *, CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df FROM tf),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(len(toks)) AS BIGINT) AS total_len FROM tk),
sc AS (SELECT q.query_id, d.doc_id, {term_fp} AS term_fp
       FROM dfx d JOIN qt q ON d.tok = q.term CROSS JOIN st),
ag AS (SELECT query_id, doc_id, CAST(sum(term_fp) AS BIGINT) AS score_fp
       FROM sc GROUP BY 1, 2),
rk AS (SELECT query_id, doc_id, score_fp,
              CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS rnk
       FROM ag)
SELECT query_id, rnk, doc_id, score_fp FROM rk WHERE rnk <= {k}
"""


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    nq: int = 10,
    r_cut: int = 50,
    k: int = 10,
) -> DataFrame:
    """Hybrid search → ``(qid, rnk, doc_id, rrf_fp)``: reciprocal-rank
    fusion of a BM25 keyword ranking and an embedding-cosine ranking.

    Queries are the held-out ids (< ``nq``): the query's TEXT is its own
    document's text (terms = its distinct tokens) and its VECTOR is its
    embedding — the corpus/candidate side is everything else.  Each
    branch is rank-bounded to ``r_cut`` rows per query BEFORE the fusion
    join, so the join input is O(nq·r_cut) regardless of corpus size;
    fusion is ``Σ 1000000 div (60 + rank)`` over a full-outer join —
    pure integer arithmetic, bitwise across engines by construction.

    At 100 TB: the sparse branch is :func:`bm25_scores` (one tokenize
    pass, term-filtered before any shuffle), the dense branch is a
    brute-force scan here but drops in ``search_index`` (IVF+RaBitQ) at
    scale — rank semantics (dist asc, id asc) are identical, and the
    fusion join only ever sees the two bounded top-``r_cut`` lists."""
    base_docs = docs.where(F.col("doc_id") >= nq)
    qterms = (
        docs.where(F.col("doc_id") < nq)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.expr(T.tokens("text"))).alias("term"),
        )
        .distinct()
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.col("score_fp").desc(), F.col("doc_id").asc()
    )
    sparse = (
        bm25_scores(base_docs, qterms)
        .withColumn("rank_b", F.row_number().over(wb).cast("bigint"))
        .where(F.col("rank_b") <= r_cut)
        .select(F.col("query_id").alias("qid"), "doc_id", "rank_b")
    )

    from ..functions import vector as V

    # staged per-row norms (r10): the NQ·N dense stage folds each pair's
    # arrays once (dot) instead of three times — bitwise-identical
    # (functions.vector.cosine_sim_staged)
    q = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"),
        F.expr(V.norm("embedding")).alias("_qn"),
    )
    b = emb.where(F.col("vec_id") >= nq).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec"),
        F.expr(V.norm("embedding")).alias("_bn"),
    )
    wc = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("doc_id").asc()
    )
    dense = (
        b.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "doc_id",
            F.expr(
                f"1.0 - ({V.cosine_sim_staged('qvec', 'vec', '_qn', '_bn')})"
            ).alias("dist"),
        )
        .withColumn("rank_c", F.row_number().over(wc).cast("bigint"))
        .where(F.col("rank_c") <= r_cut)
        .select("qid", "doc_id", "rank_c")
    )

    fused = (
        sparse.join(dense, ["qid", "doc_id"], "full_outer")
        .withColumn(
            "rrf_fp",
            F.coalesce(
                F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_b)"), F.lit(0)
            ).cast("bigint")
            + F.coalesce(
                F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_c)"), F.lit(0)
            ).cast("bigint"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("rrf_fp").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("qid", "rnk", "doc_id", "rrf_fp")
    )


def d_hybrid_rrf_topk(nq: int = 10, r_cut: int = 50, k: int = 10) -> str:
    """DuckDB oracle textually parallel to :func:`hybrid_rrf_topk`."""
    from .. import oracle as O

    toks = T.d_tokens("text")
    term_fp = _bm25_term_fp("tf", "df", "dl", "n_docs", "total_len")
    return f"""
WITH qt AS (SELECT DISTINCT doc_id AS query_id, unnest({toks}) AS term
            FROM documents WHERE doc_id < {nq}),
tk AS (SELECT doc_id, {toks} AS toks FROM documents WHERE doc_id >= {nq}),
tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS tok FROM tk),
allt AS (SELECT DISTINCT term FROM qt),
tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
       FROM tok WHERE tok IN (SELECT term FROM allt) GROUP BY 1, 2, 3),
dfx AS (SELECT *, CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df FROM tf),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(len(toks)) AS BIGINT) AS total_len FROM tk),
sc AS (SELECT q.query_id, d.doc_id, {term_fp} AS term_fp
       FROM dfx d JOIN qt q ON d.tok = q.term CROSS JOIN st),
ag AS (SELECT query_id, doc_id, CAST(sum(term_fp) AS BIGINT) AS score_fp
       FROM sc GROUP BY 1, 2),
sparse AS (SELECT query_id AS qid, doc_id, rank_b FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS rank_b
    FROM ag) WHERE rank_b <= {r_cut}),
qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {nq}),
bv AS (SELECT vec_id AS doc_id, embedding AS vec FROM embeddings WHERE vec_id >= {nq}),
dd AS (SELECT qv.qid, bv.doc_id,
              1.0 - ({O.cosine_sim('qv.qvec', 'bv.vec')}) AS dist
       FROM bv CROSS JOIN qv),
dense AS (SELECT qid, doc_id, rank_c FROM (
    SELECT qid, doc_id,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY dist ASC, doc_id ASC) AS BIGINT) AS rank_c
    FROM dd) WHERE rank_c <= {r_cut}),
fused AS (SELECT coalesce(s.qid, d.qid) AS qid,
                 coalesce(s.doc_id, d.doc_id) AS doc_id,
                 CAST(coalesce({RRF_SCALE} // ({RRF_K} + s.rank_b), 0)
                    + coalesce({RRF_SCALE} // ({RRF_K} + d.rank_c), 0) AS BIGINT) AS rrf_fp
          FROM sparse s FULL OUTER JOIN dense d
            ON s.qid = d.qid AND s.doc_id = d.doc_id),
rk AS (SELECT qid, doc_id, rrf_fp,
              CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY rrf_fp DESC, doc_id ASC) AS BIGINT) AS rnk
       FROM fused)
SELECT qid, rnk, doc_id, rrf_fp FROM rk WHERE rnk <= {k}
"""


def mrl_prefix_knn(
    queries: DataFrame,
    base: DataFrame,
    prefix: int = 8,
    coarse_k: int = 50,
    k: int = 10,
) -> DataFrame:
    """Matryoshka two-phase KNN → ``(qid, rank, id, dist)``.

    Phase 1 ranks by L2 on the first ``prefix`` dims only and keeps the
    top ``coarse_k`` per query (ties by id); phase 2 recomputes the EXACT
    full-dimension distance on those candidates and keeps top ``k``.
    This is the MRL/truncation serving pattern for Matryoshka-trained
    embeddings: the coarse phase touches ``prefix/D`` of the vector
    bytes.  At 100 TB you materialize the prefix as its own (zone-mapped)
    column so phase 1 prunes IO columnar-ly; phase 2
    (:func:`knn.rerank_exact`) broadcasts the NQ·coarse_k shortlist into
    the base scan, so full vectors are read in place and never shuffled.

    Semantics (not an approximation of something else) are pinned by the
    oracle: the same two-phase plan expressed in SQL, bitwise."""
    from ..functions import vector as V
    from .knn import rerank_exact, topk

    cand = base.crossJoin(F.broadcast(queries)).select(
        "qid",
        "id",
        F.expr(
            V.l2sq(f"slice(qvec, 1, {prefix})", f"slice(vec, 1, {prefix})")
        ).alias("dist_p"),
    )
    return rerank_exact(topk(cand, coarse_k, by="dist_p"), queries, base, k)


def d_mrl_prefix_knn(
    nq: int = 10, prefix: int = 8, coarse_k: int = 50, k: int = 10
) -> str:
    """DuckDB oracle textually parallel to :func:`mrl_prefix_knn`.
    DuckDB list slicing is end-INCLUSIVE: ``v[1:prefix]`` = elements
    1..prefix = Spark's ``slice(v, 1, prefix)``."""
    from .. import oracle as O

    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {nq}),
b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {nq}),
cp AS (SELECT q.qid, b.id, q.qvec, b.vec,
              {O.l2sq(f'q.qvec[1:{prefix}]', f'b.vec[1:{prefix}]')} AS dist_p
       FROM b CROSS JOIN q),
cand AS (SELECT qid, id, qvec, vec FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY qid
              ORDER BY dist_p ASC, id ASC) AS BIGINT) AS crank FROM cp)
    WHERE crank <= {coarse_k}),
fin AS (SELECT qid, id, {O.l2sq('qvec', 'vec')} AS dist FROM cand),
rk AS (SELECT qid, id, dist,
              CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dist ASC, id ASC) AS BIGINT) AS rank
       FROM fin)
SELECT qid, rank, id, dist FROM rk WHERE rank <= {k}
"""

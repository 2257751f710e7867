"""Exact K-nearest-neighbor operators (SURVEY §2.3 J1, §2.5 W3/W4).

The reference computes exact ground truth as a nested-loop cross product +
per-query argsort (``python/compute_gt.py:12-19``) and collects top-k per
query in a bounded sorted pool (``inc/index/Pool.hpp:15-49``).

Two Spark physical strategies:

- :func:`exact_knn` — declarative: broadcast the (small) query side into a
  cross join, distance expression, ``row_number()`` window.  Catalyst picks
  BroadcastNestedLoopJoin; whole-stage codegen covers the distance.  This
  is the oracle-checked form.

- :func:`exact_knn_combined` — scale form: map-side partial top-k.  Each
  input partition of the base reduces to ≤ NQ·k candidate rows *before*
  the shuffle (the manual analog of partial aggregation), then one cheap
  global window finishes.  On 100 TB this turns an N·NQ-row shuffle into a
  (#partitions·NQ·k)-row shuffle.  Arrow-batched numpy does the distance
  blocks (the analog of the reference's 32-at-a-time FastScan batching,
  ``inc/index/fastscan/FastScan.hpp``).

Tie-breaking is ``ORDER BY dist, id`` — a deterministic total order; the
reference keeps first-inserted on exact ties (SURVEY §4.2.1).  Every
per-query top-k in the engine is :func:`topk`, which writes that order
once, with NULL distances (a NULL or short vector) ranked last as the
DuckDB oracles rank them; every estimate → exact-rerank operator
finishes through :func:`rerank_exact`.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V

_METRIC_EXPRS = {
    "l2": V.l2sq,
    # max-IP as min of negated IP.  dim is accepted but NOT forwarded:
    # fresh-JVM A/B at 1M pairs measured the unrolled dot 5× SLOWER
    # than the HOF (2.0s vs 0.37s median; unrolled cosine 1.8s vs
    # 0.72s) while unrolled l2 is 2.8× FASTER (0.19s vs 0.53s) — the
    # l2 term's repeated (a[i]−b[i]) subexpression splits/JITs well,
    # the plain-product folds do not.  Values are bitwise-equal either
    # way (tests/test_sqlfuncs.py); only l2 takes the unrolled form.
    "ip": lambda a, b, dim=None: f"-({V.dot(a, b)})",
    "cosine": lambda a, b, dim=None: f"1.0 - ({V.cosine_sim(a, b)})",
}


def distance_col(metric: str, a: str, b: str, dim: int | None = None) -> F.Column:
    """``dim``: unroll the fold to codegen'd arithmetic when the vector
    width is a known contract — bitwise-identical values (see
    functions.vector._unrolled_fold).  Measured win applies to the l2
    kernel only; see _METRIC_EXPRS note."""
    return F.expr(_METRIC_EXPRS[metric](a, b, dim))


def topk(df: DataFrame, k: int, by: str = "dist") -> DataFrame:
    """Per-query top-k → (qid, rank, id, <by>): ``row_number()`` over
    ``<by> ASC NULLS LAST, id ASC`` per qid, kept while rank ≤ k.  Spark
    sorts ASC with NULLs first; the oracles (DuckDB) sort them last, so
    the order is spelled out.  SQL text: one selectExpr and one where,
    one py4j call each."""
    return df.selectExpr(
        "qid",
        f"CAST(row_number() OVER (PARTITION BY qid ORDER BY {by} ASC NULLS LAST, "
        "id ASC) AS BIGINT) AS rank",
        "id",
        by,
    ).where(f"`rank` <= {int(k)}")


def rerank_exact(
    shortlist: DataFrame, queries: DataFrame, base: DataFrame, k: int
) -> DataFrame:
    """Exact re-rank of a (qid, id) shortlist → (qid, rank, id, dist): the
    shortlist picks up its query vectors from the broadcast queries, then
    broadcasts into the base scan, so the (id, vec) base is read in place
    and never shuffled; dist is the full-width squared L2."""
    short = shortlist.select("qid", "id").join(
        F.broadcast(queries.select("qid", "qvec")), "qid"
    )
    pairs = base.select("id", "vec").join(F.broadcast(short), "id")
    return topk(pairs.select("qid", "id", F.expr(V.l2sq("qvec", "vec")).alias("dist")), k)


def _pairwise_dist(
    metric: str,
    queries: DataFrame,
    base: DataFrame,
    dim: int | None,
) -> tuple[DataFrame, DataFrame, F.Column]:
    """Quadratic-stage distance prep shared by exact_knn / range_search:
    for the cosine metric, stage each side's norm in its OWN (map-only,
    once-per-row) projection so the N·NQ pair stage folds the arrays
    once (dot) instead of three times — bitwise-identical
    (functions.vector.cosine_sim_staged).  Other metrics pass through
    untouched."""
    if metric != "cosine":
        return queries, base, distance_col(metric, "qvec", "vec", dim)
    q = queries.select("qid", "qvec").withColumn("_qn", F.expr(V.norm("qvec")))
    b = base.select("id", "vec").withColumn("_bn", F.expr(V.norm("vec")))
    dist = F.expr(f"1.0 - ({V.cosine_sim_staged('qvec', 'vec', '_qn', '_bn')})")
    return q, b, dist


def exact_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """Declarative exact KNN → (qid, rank, id, dist).

    queries: (qid, qvec); base: (id, vec).  Output dist is the *squared* L2
    (the reference compares squared distances throughout, taking sqrt only
    in the ratio metric, inc/utils/tools.hpp:28-40).  ``dim``: unrolled
    codegen distance (bitwise-identical; see distance_col).
    """
    queries, base, dist = _pairwise_dist(metric, queries, base, dim)
    pairs = base.crossJoin(F.broadcast(queries))
    return topk(pairs.select("qid", "id", dist.alias("dist")), k)


def exact_knn_combined(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """Scale-path exact KNN with map-side partial top-k (see module doc).

    Semantically identical to :func:`exact_knn` (same distances, same
    tie-break); verified against it in tests/test_knn.py.
    """
    q_rows = queries.select("qid", "qvec").collect()  # NQ is small by contract
    if not q_rows:
        schema = "qid long, rank long, id long, dist double"
        return base.sparkSession.createDataFrame([], schema)
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    sc = base.sparkSession.sparkContext
    b_qids, b_qmat = sc.broadcast(qids), sc.broadcast(qmat)

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Q = b_qmat.value  # NQ × D
        QID = b_qids.value
        q_sq = (Q * Q).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["vec"].tolist(), dtype=np.float64)  # B × D
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if metric == "l2":
                d = q_sq[:, None] + (X * X).sum(axis=1)[None, :] - 2.0 * (Q @ X.T)
            elif metric == "ip":
                d = -(Q @ X.T)
            else:  # cosine distance
                xn = np.sqrt((X * X).sum(axis=1))
                d = 1.0 - (Q @ X.T) / (np.sqrt(q_sq)[:, None] * xn[None, :])
            kk = min(k, d.shape[1])
            # Keep EVERY row at or below the k-th smallest distance (plus a
            # relative epsilon for BLAS low-bit noise), not exactly k rows:
            # with >kk ties at the boundary (duplicate vectors are common in
            # dedup corpora) an exact argpartition picks arbitrarily and can
            # drop a row the (dist, id) total order keeps.  The superset is
            # bounded by the tie count; the declarative re-rank below
            # restores the exact order.
            kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
            thresh = kth + 1e-9 * np.maximum(np.abs(kth), 1.0)
            qi, xi = np.nonzero(d <= thresh[:, None])
            yield pd.DataFrame({"qid": QID[qi], "id": ids[xi], "dist_np": d[qi, xi]})

    cand = base.select("id", "vec").mapInPandas(partial_topk, "qid long, id long, dist_np double")
    # Recompute the distance declaratively on the tiny candidate set so the
    # final output is bit-identical to exact_knn (numpy's BLAS-order sums
    # differ in low bits; they only *select* candidates, never score them).
    cand = (
        cand.join(base.select("id", "vec"), on="id", how="inner")
        .join(F.broadcast(queries.select("qid", "qvec")), on="qid", how="inner")
        .select(
            F.col("qid"), F.col("id"),
            distance_col(metric, "qvec", "vec", dim).alias("dist"),
        )
    )
    return topk(cand, k)


def range_search(
    queries: DataFrame,
    base: DataFrame,
    radius2: float,
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """Range query: every base row within squared distance ``radius2``
    of each query → (qid, id, dist) — the other standard ANN query
    shape (top-k's sibling; e.g. faiss range_search).  Declarative
    exact form: broadcast NLJ + filter — no window, so unlike top-k the
    output size is data-dependent and the plan is a pure map-side
    filter after the join (scales with the TRUE result size)."""
    queries, base, dist = _pairwise_dist(metric, queries, base, dim)
    pairs = base.crossJoin(F.broadcast(queries))
    return (
        pairs.select(F.col("qid"), F.col("id"), dist.alias("dist"))
        .where(F.col("dist") <= radius2)
    )


def maxsim_topk(
    queries: DataFrame,
    entities: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Late-interaction multi-vector scoring (ColBERT-style MaxSim; no
    reference counterpart — the multi-vector generalization of its
    single-vector queries) → (gid, rank, ent, score).

    queries: (gid, qid, qvec) — query GROUPS of vectors; entities:
    (ent, vec) — each entity owns a SET of member vectors.
    score(g, e) = Σ_{q ∈ g} max_{v ∈ e} ⟨q, v⟩: every query vector
    independently finds its best-matching member vector, and the group
    sums the per-vector maxima.  Top-k entities per group, ties broken
    by entity id.

    Plan shape: broadcast the bounded query side into the entity-vector
    scan (one pass over the big table — the same contract as
    :func:`exact_knn`), partial-agg max per (gid, qid, ent), then a
    second partial-agg sum per (gid, ent) — both shuffles carry only
    aggregated rows, never the raw cross product.  Cross-engine
    exactness: the inner max over IEEE doubles is order-independent;
    the outer sum rounds each max to 6 decimals and sums DECIMAL(38,6)
    (exact, order-free) — the same convention as the TPC-H money
    aggregates.  At 100 TB the ANN index accelerates the inner max per
    query vector (top-1 search per q, then regroup) — this exact form
    is the oracle twin.
    """
    d = entities.crossJoin(F.broadcast(queries)).select(
        "gid", "qid", "ent", F.expr(V.dot("qvec", "vec")).alias("ip")
    )
    m = d.groupBy("gid", "qid", "ent").agg(
        F.round(F.max("ip"), 6).cast("decimal(38,6)").alias("ms")
    )
    s = m.groupBy("gid", "ent").agg(
        F.sum("ms").cast("decimal(38,6)").alias("score")
    )
    w = Window.partitionBy("gid").orderBy(
        F.col("score").desc(), F.col("ent").asc()
    )
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("gid", "rank", "ent", "score")
    )

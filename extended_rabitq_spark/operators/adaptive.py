"""Adaptive per-query probe escalation (batch tail-latency pattern).

The reference fixes ONE nprobe globally per sweep point
(src/test_search.cpp:97-134) and adapts only WITHIN the probed set (the
sequential distk prune, inc/index/Searcher.hpp:217-233).  At serving
scale the global setting pays the hardest query's probe budget on every
query.  This module adds the cross-probe analog of that distk idea as a
batch Spark composition: search a cheap probe set for EVERY query,
certify per query that no unprobed cell can improve its k-th result,
and re-search only the uncertified tail at the expensive setting.

The certificate is the classic metric-pruning bound (triangle
inequality): for a cell with centroid c and radius r = max‖x−c‖ over
members, every member satisfies ‖q−x‖ ≥ ‖q−c‖ − r, so

    bound(cell) = max(‖q−c‖ − r, 0)²  ≤  d²(q, x)   for all x in cell.

If the k-th result distance after probing the cheap set is strictly
below every unprobed cell's bound, those cells provably cannot change
the exact top-k — a THEOREM for exact distances (tested bitwise:
converged queries return the nprobe_hi result), and the same rule
applied to the B-bit estimates is the serving heuristic for the RaBitQ
path (quality measured, not proven — estimator error is not bounded by
cell geometry).  Cell radii come from the index itself: the codes table
already carries x2 = ‖rotated residual‖² (rotation is orthonormal and
padding appends zeros, so √x2 = ‖x − c‖ exactly); no base-table scan.

Scale notes: probes_hi is NQ × nprobe_hi rows (tiny), checkpointed once
and reused by the cheap pass, the verdicts, and the escalated pass; the
escalated re-search re-probes its lo cells rather than merging pools so
its rows are BITWISE the fixed-nprobe_hi search's (the law the tests
pin) — the duplicated lo-cell scoring is bounded by the escalation
fraction, which is the quantity this operator exists to shrink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import select_probes
from .knn import distance_col, topk
from . import rabitq as rabitq_ops


def cell_radii_from_codes(codes: DataFrame) -> DataFrame:
    """(cluster_id, radius): max member-to-centroid L2 distance per cell,
    read off the index's own x2 column (‖x−c‖ = √x2, see module doc).
    One K-row partial-aggregated groupBy; empty cells simply have no row
    (treated as unboundedly far by :func:`escalation_verdicts`)."""
    return codes.groupBy("cluster_id").agg(
        F.sqrt(F.max("x2")).alias("radius")
    )


def cell_radii_exact(
    indexed_base: DataFrame, centroids: DataFrame, vec: str = "vec"
) -> DataFrame:
    """Radii for a plain IVF assignment (no RaBitQ codes): one broadcast
    centroid join + JVM-side fold, partial-aggregated to K rows."""
    d2 = distance_col("l2", vec, "centroid")
    return (
        indexed_base.join(
            F.broadcast(centroids.select("cluster_id", "centroid")),
            on="cluster_id",
        )
        .select("cluster_id", d2.alias("_d2"))
        .groupBy("cluster_id")
        .agg(F.sqrt(F.max("_d2")).alias("radius"))
    )


def exact_probe_search(
    queries: DataFrame,
    indexed_base: DataFrame,
    probes: DataFrame,
    k: int,
) -> DataFrame:
    """:func:`ivf.ivf_search` with an injected probe list (same J3
    equi-join shape — partition pruning on a partitioned index, the
    100 TB base never shuffles).  Output: (qid, rank, id, dist)."""
    cand = indexed_base.join(
        F.broadcast(probes.select("qid", "cluster_id")), on="cluster_id", how="inner"
    ).join(F.broadcast(queries.select("qid", "qvec")), on="qid", how="inner")
    return topk(cand.select("qid", "id", distance_col("l2", "qvec", "vec").alias("dist")), k)


def escalation_verdicts(
    query_ids: DataFrame,
    res_lo: DataFrame,
    probes_hi: DataFrame,
    radii: DataFrame,
    nprobe_lo: int,
    k: int,
    margin: float = 0.0,
    dist_col: str = "dist",
) -> DataFrame:
    """Per-query escalation verdict → (qid, n_lo, distk, min_bound,
    escalate).

    Converged ⇔ the cheap pass returned ≥ k rows AND every unprobed
    hi-set cell's bound strictly exceeds distk·(1+margin) (margin is
    relative — distances here are squared L2 — so margin=0 is the exact
    geometric rule and margin>0 escalates more conservatively; must be
    finite — an infinite margin would make distk·(1+margin) NaN at
    distk=0 and silently flip that query to converged; use e.g. 1e18
    to force-escalate everything).  Queries with NO cheap-pass rows
    (all lo cells empty) always escalate; tail cells with no radius row
    are EMPTY in the index and can never force escalation.  One
    hashpartitioning(qid) aggregation per side.

    Floating-point caveat: the margin=0 losslessness theorem holds in
    exact real arithmetic; the computed bound goes through sqrt and a
    sum fold, each exactly-rounded, so it can sit ~1-2 ulp ABOVE the
    real bound.  A tail point whose true distance is within ulps of
    distk could then be falsely certified — astronomically unlikely on
    continuous data (it needs |bound_real − distk| ≲ 2 ulp) and
    irrelevant to result VALUES (such a point ties distk to ~1e-16
    relative).  Deployments that need the certificate airtight against
    ties (e.g. integer-coordinate corpora where exact ties are common)
    should pass a tiny relative margin (1e-12) instead of 0; the pinned
    ``knn_ivf_adaptive`` oracle row uses margin=0 on continuous
    embeddings where the hash equality is stable."""
    import math

    if not math.isfinite(margin) or margin < 0:
        raise ValueError(
            f"margin must be finite and >= 0, got {margin!r} "
            "(use a large finite value, e.g. 1e18, to escalate everything)"
        )
    got = res_lo.groupBy("qid").agg(
        F.count("*").alias("n_lo"),
        F.max(F.when(F.col("rank") <= k, F.col(dist_col))).alias("distk"),
    )
    # self-multiply, not pow(x, 2): IEEE multiplication is exact-rounded
    # identically everywhere, so the DuckDB oracle twin reproduces the
    # verdict comparison bitwise (pow's rounding is library-dependent)
    gap = F.greatest(F.sqrt(F.col("cdist")) - F.col("radius"), F.lit(0.0))
    bound = gap * gap
    tails = (
        probes_hi.where(F.col("probe_rank") > nprobe_lo)
        .join(radii, on="cluster_id", how="inner")  # no radius row = empty cell
        .groupBy("qid")
        .agg(F.min(bound).alias("min_bound"))
    )
    return (
        query_ids.select("qid")
        .join(got, on="qid", how="left")
        .join(tails, on="qid", how="left")
        .select(
            "qid",
            F.coalesce(F.col("n_lo"), F.lit(0)).cast("long").alias("n_lo"),
            "distk",
            "min_bound",
            F.when(F.coalesce(F.col("n_lo"), F.lit(0)) < k, F.lit(True))
            .when(F.col("min_bound").isNull(), F.lit(False))  # no non-empty tail cells
            .otherwise(
                F.col("min_bound") <= F.col("distk") * (1.0 + F.lit(float(margin)))
            )
            .alias("escalate"),
        )
    )


def _adaptive(
    queries: DataFrame,
    probes_hi: DataFrame,
    radii: DataFrame,
    search_fn,
    nprobe_lo: int,
    nprobe_hi: int,
    k: int,
    margin: float,
    dist_col: str,
    return_stats: bool,
):
    """Shared escalation driver: cheap pass → verdicts → escalated pass →
    union.  ``search_fn(probes_df)`` must return the fixed-probe-set
    search result for exactly the queries present in ``probes_df``.

    Job shape (r10, VERDICT r9 item 4): ONE triggering job computes and
    caches probes_hi → res_lo → verdicts together (lazy ``persist()``
    instead of the three eager ``localCheckpoint`` barriers the r9 shape
    paid — at the sf0.1 point those three barriers were the measured
    floor when everything escalates), then the caller's action is the
    second and final job.  When NO query escalates the hi pass and the
    anti-join are skipped entirely — the converged fast path is the
    cached cheap pass, so a fully-certified batch costs the lo search
    plus one cheap verdict job."""
    if nprobe_hi <= nprobe_lo:
        raise ValueError(
            f"nprobe_hi ({nprobe_hi}) must exceed nprobe_lo ({nprobe_lo})"
        )
    # NQ × nprobe_hi rows — reused by the lo pass, the verdicts, and the
    # escalated pass (at 100 TB this is a staged table keyed on qid)
    probes_hi = probes_hi.persist()
    res_lo = search_fn(
        probes_hi.where(F.col("probe_rank") <= nprobe_lo)
    ).persist()  # read by the verdicts AND the union
    verd = escalation_verdicts(
        queries.select("qid"), res_lo, probes_hi, radii,
        nprobe_lo, k, margin, dist_col=dist_col,
    ).persist()
    # the one triggering job: populates all three caches above and tells
    # us whether the hi pass is needed at all (count is contract-bounded
    # — verd has one row per batch query)
    n_esc = verd.where(F.col("escalate")).count()
    if n_esc == 0:
        out = res_lo
    else:
        esc = verd.where(F.col("escalate")).select("qid")
        res_hi = search_fn(
            probes_hi.join(F.broadcast(esc), on="qid", how="leftsemi")
        )
        out = res_lo.join(
            F.broadcast(esc), on="qid", how="left_anti"
        ).unionByName(res_hi)
    if not return_stats:
        return out
    stats = verd.select(
        "qid", "n_lo", "escalate",
        F.when(F.col("escalate"), F.lit(nprobe_hi))
        .otherwise(F.lit(nprobe_lo)).cast("long").alias("nprobe_eff"),
    )
    return out, stats


def ivf_search_adaptive(
    queries: DataFrame,
    indexed_base: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe_lo: int,
    nprobe_hi: int,
    margin: float = 0.0,
    return_stats: bool = False,
) -> DataFrame:
    """Exact-IVF adaptive search → (qid, rank, id, dist) [+ stats].

    At margin=0 this is RESULT-IDENTICAL to ``ivf_search(nprobe_hi)``
    (the convergence certificate is a theorem for exact distances —
    pinned bitwise in tests), at the cost of ``nprobe_lo`` probes for
    every certified query."""
    probes_hi = select_probes(queries, centroids, nprobe_hi)
    radii = cell_radii_exact(indexed_base, centroids)
    return _adaptive(
        queries, probes_hi, radii,
        lambda p: exact_probe_search(
            queries.join(F.broadcast(p.select("qid").distinct()), on="qid", how="leftsemi"),
            indexed_base, p, k,
        ),
        nprobe_lo, nprobe_hi, k, margin, "dist", return_stats,
    )


def rabitq_search_adaptive(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    k: int,
    nprobe_lo: int,
    nprobe_hi: int,
    margin: float = 0.0,
    return_stats: bool = False,
    **search_kw,
) -> DataFrame:
    """RaBitQ adaptive search → (qid, rank, id, est_dist) [+ stats].

    The certificate is applied to the B-bit ESTIMATES (distk = k-th
    est_dist of the cheap pass), so it is a serving heuristic here, not
    a theorem — estimator error is not bounded by cell geometry.  The
    escalation laws still hold exactly and are pinned in tests:
    escalated queries return BITWISE the fixed-``nprobe_hi`` rows,
    converged queries BITWISE the fixed-``nprobe_lo`` rows, and
    margin→∞ reproduces the fixed-``nprobe_hi`` search everywhere.
    ``search_kw`` forwards to :func:`rabitq.rabitq_search` (estimator,
    refine, refine_mode, ...)."""
    probes_hi = select_probes(
        queries, centroids.select("cluster_id", "centroid"), nprobe_hi
    )
    radii = cell_radii_from_codes(codes)
    return _adaptive(
        queries, probes_hi, radii,
        lambda p: rabitq_ops.rabitq_search(
            queries.join(F.broadcast(p.select("qid").distinct()), on="qid", how="leftsemi"),
            codes, centroids, meta,
            nprobe=nprobe_hi, k=k, probes=p, **search_kw,
        ),
        nprobe_lo, nprobe_hi, k, margin, "est_dist", return_stats,
    )

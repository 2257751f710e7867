"""Benchmark/acceptance harness (SURVEY §2.5 W5, §2.4 A5) — the Spark
analog of the reference's sweep loop (``src/test_search.cpp:61-79``
builds the nprobe grid; ``:155-199`` sweeps until recall > 0.997 or a
plateau; ``:97-134`` averages rounds).

This is driver-side control flow over Spark jobs, exactly like the
reference's main() — the per-setting work is fully distributed.  The
caller hands the sweep its search, one ``search(nprobe)`` callable per
method, so the harness names no index or operator.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import metrics
from .functions import vector as V
from .operators import knn as knn_ops

DEFAULT_GRID = [1, 2, 3, 5, 8, 12, 16]
RECALL_SATURATION = 0.997  # src/test_search.cpp:190-196
PLATEAU_EPS = 1e-5


@dataclass
class SweepRow:
    nprobe: int
    recall: float
    ratio: float
    qps: float
    wall_sec: float


def nprobe_sweep(
    queries: DataFrame,
    base: DataFrame,
    search: Callable[[int], DataFrame],
    k: int = 10,
    grid: list[int] | None = None,
    rounds: int = 1,
    recall_stop: float = RECALL_SATURATION,
    metric: str = "l2",
    mips_norm: float | None = None,
    warmup: bool = False,
    gt: DataFrame | None = None,
    wall_stat: str = "median",
) -> list[SweepRow]:
    """Time ``search`` over the nprobe grid, ascending and without
    repeats; stop at recall saturation or plateau.

    ``search(nprobe)`` is the caller's search at one grid point → a
    (qid, rank, id, dist | est_dist) DataFrame of the top-k per query in
    ``queries`` (qid, qvec) over ``base`` (id, vec).  The harness only
    times it and scores it; the caller chooses the method and its
    settings (an IVF scan, a RaBitQ search with its refine/rerank
    config or graph probes, or one point of a pre-scored sweep pool).

    Returns one row per executed setting with recall@k, mean distance
    ratio, and end-to-end queries/sec (whole-batch wall clock — the
    honest Spark analog of the reference's sequential QPS,
    BASELINE.md interpretation note).  The timed wall covers the SEARCH
    — ``search(nprobe)`` and the materialization of its ranking —
    exactly what the reference brackets with its clock
    (src/test_search.cpp:97-134); metric preparation (the E4
    exact-distance recompute of returned ids, recall/ratio joins) runs
    after the clock stops, as the reference's tools.hpp does (r9: rounds
    1-8 timed the recompute join too, which let the 1M base scan
    dominate every wall and inverted the QPS-vs-nprobe shape).  An
    ``est_dist`` result is re-scored with exact ``metric`` distances of
    its ids before the ratio; the ranking itself is the search's.

    ``metric='ip'`` needs ``mips_norm`` (the index meta's M, set by
    rabitq.mips_prepare / build_index(metric='ip')): the ratio is taken
    in the MIPS augmented-L2 geometry, where distances are nonnegative.

    ``warmup=True`` runs ONE untimed extra round of EVERY grid point
    (full pipeline, incl. the E4 ratio recompute) before that point's
    timing: it absorbs JVM/codegen first-touch and — for a sweep-pool
    search — the shared pool scoring, so the QPS column reports
    steady-state per-point throughput instead of a warm-up-ordering
    artifact (the reference averages 3 rounds for the same reason,
    src/test_search.cpp:97-134; VERDICT r7 item 3).  r9 (VERDICT r8
    item 5): warming only the FIRST point left np1/np2 reading 50/78
    QPS against a 210-237 plateau in the committed 1M sweep — each
    point's finalize plan JITs and touches persisted-pool partitions
    of its own, so every point gets its own untimed round.  The
    per-point wall is the MEDIAN of rounds (noise-robust for
    rounds≥3); ``wall_stat='min'`` reports the minimum instead — the
    consistent estimator under strictly-additive interference (GC
    windows, co-tenant load), for boxes whose throughput drifts on
    timescales longer than one point's rounds.

    ``gt``: precomputed ground truth ``(qid, rank, id, dist)`` — the
    reference splits GT out of the sweep for exactly this reason
    (``python/compute_gt.py`` writes it once; ``test_search`` reads it).
    Must come from the SAME (queries, base, metric) at depth ≥ k; depth
    is validated here (max rank ≥ k), metric/provenance is the caller's
    contract (the CLI's ``--gt-parquet`` writes a sidecar and checks it).
    The frame is persisted and unpersisted by this function.
    """
    grid = sorted(set(grid or DEFAULT_GRID))
    if wall_stat not in ("median", "min"):
        raise ValueError(f"nprobe_sweep: wall_stat must be 'median' or 'min', got {wall_stat!r}")
    if metric == "ip" and mips_norm is None:
        # A missing M would default the augmentation to ‖q‖² + 2·dist,
        # which can go negative and turn every ratio into sqrt-of-negative
        # NaN — fail loudly instead (ADVICE r4).
        raise ValueError(
            "nprobe_sweep(metric='ip') requires mips_norm "
            "(meta['mips_norm'], set by rabitq.mips_prepare / build_index(metric='ip'))"
        )
    nq = queries.count()
    if gt is None:
        # GT via the map-side-combined scan — identical output to the
        # declarative form (tests/test_knn.py) at a fraction of the cost
        # on large bases (measured 117s → 1.5s at 100k×100q).  With a
        # cosine-metric index, GT and the E4 ratio recompute both use the
        # cosine distance so recall/ratio are metric-consistent.
        gt = knn_ops.exact_knn_combined(queries, base, k=k, metric=metric)
    else:
        # recall@k needs a full top-k for EVERY query: a ragged cache
        # (some queries shallower than k, or missing entirely) would
        # silently skew recall/ratio, and a global max(rank) check
        # cannot see it (ADVICE r8) — validate per query: gt must cover
        # every query id, each to depth ≥ k.
        per_q = gt.groupBy("qid").agg(F.max("rank").alias("d"))
        bad = (
            queries.select("qid")
            .join(per_q, "qid", "left")
            .where(F.col("d").isNull() | (F.col("d") < k))
        )
        n_bad = bad.count()
        if n_bad:
            sample = [r["qid"] for r in bad.limit(5).collect()]
            raise ValueError(
                f"nprobe_sweep: provided gt is ragged — {n_bad} quer"
                f"{'y' if n_bad == 1 else 'ies'} missing or shallower than "
                f"k={k} (e.g. qids {sample})"
            )
        gt = gt.where(F.col("rank") <= k)
    gt.persist().count()
    out: list[SweepRow] = []
    prev_recall = -1.0
    try:
        for nprobe in grid:
            walls = []
            # warm-up: one untimed extra round of EVERY grid point
            # (absorbs JVM first-touch, a sweep pool's scoring, and
            # each point's own finalize-plan JIT — VERDICT r8 item 5)
            extra = 1 if warmup else 0
            for _r in range(rounds + extra):
                timed = _r >= extra
                t0 = time.perf_counter()
                res = search(nprobe)
                res.persist().count()
                if timed:
                    walls.append(time.perf_counter() - t0)
                if _r < rounds + extra - 1:
                    # drop the result cache between rounds — a sweep
                    # pool's `res` is ONE DataFrame per grid point, and a
                    # per-point search's identical plans can still hit the
                    # CacheManager's plan matching — either way later
                    # rounds would free-scan round 1's cached result and
                    # inflate QPS by up to rounds× (review r5); this also
                    # stops rounds−1 cached frames leaking per grid point
                    res.unpersist(blocking=True)
            if "est_dist" in res.columns:
                # E4 metric prep, OUTSIDE the timed wall: the ratio metric
                # compares EXACT distances of the returned ids
                # (inc/utils/tools.hpp:28-33 recomputes true L2; estimates
                # may undershoot and give ratio < 1).  The reference times
                # its searches and computes recall/ratio AFTER the clock
                # stops (src/test_search.cpp:97-134 brackets only the
                # search loop) — r1-r8 of this harness timed this join too,
                # which (a) made QPS a metric-prep benchmark (the 1M base
                # scan dominates the filter+phase-2 walls ~10×) and (b)
                # produced the unphysical ascending QPS-vs-nprobe column in
                # the committed sweeps (more probes = more work; QPS must
                # fall, as the reference's CSVs do).  The returned ranking
                # is identical either way — ranks are already final; only
                # the dist column is recomputed for the metric.
                res_search = res
                res = (
                    res.drop("est_dist")
                    .join(base.select("id", "vec"), on="id")
                    .join(F.broadcast(queries.select("qid", "qvec")), on="qid")
                    .select(
                        "qid",
                        "rank",
                        "id",
                        knn_ops.distance_col(metric, "qvec", "vec").alias("dist"),
                    )
                )
                res.persist().count()
                res_search.unpersist()
            rec = (
                metrics.recall_per_query(res, gt, k)
                .agg(F.avg("recall").alias("r"))
                .first()["r"]
            )
            res_r, gt_r = res, gt
            if metric == "ip":
                # ratio is defined on nonnegative distances; IP dist is
                # −⟨q,x⟩ (negative), which the L2-form guard rejects.
                # Transform BOTH sides into the MIPS augmented-L2
                # geometry the index optimizes: aug² = ‖q‖² + M² − 2⟨q,x⟩
                # = ‖q‖² + M² + 2·dist ≥ 0 — order-identical per query,
                # so the reference's ≥1 ratio convention carries over.
                m2 = float(mips_norm) ** 2
                qn = queries.select(
                    "qid", F.expr(V.l2sq_self("qvec")).alias("_qn2")
                )

                def _aug(df):
                    return (
                        df.join(F.broadcast(qn), on="qid")
                        .withColumn(
                            "dist",
                            F.col("_qn2") + F.lit(m2) + 2.0 * F.col("dist"),
                        )
                        .drop("_qn2")
                    )

                res_r, gt_r = _aug(res), _aug(gt)
            rat_row = (
                metrics.ratio_per_query(res_r, gt_r, k).agg(F.avg("ratio").alias("x")).first()
            )
            rat = rat_row["x"] if rat_row["x"] is not None else float("nan")
            # Timing noise on a shared JVM/box is strictly ADDITIVE (GC
            # pauses, scheduling interference slow a round, nothing
            # speeds one up), so min-of-rounds is the consistent
            # estimator of the true per-point cost when rounds sample
            # different interference windows; median stays the default
            # (back-compat with r1-r8 artifacts).
            wall = min(walls) if wall_stat == "min" else statistics.median(walls)
            out.append(SweepRow(nprobe, float(rec), float(rat), nq / wall, wall))
            res.unpersist()
            if rec > recall_stop or abs(rec - prev_recall) < PLATEAU_EPS:
                break
            prev_recall = rec
    finally:
        gt.unpersist()
    return out


def tune_nprobe(
    queries: DataFrame,
    base: DataFrame,
    search: Callable[[int], DataFrame],
    target_recall: float = 0.95,
    **sweep,
) -> tuple[int, list[SweepRow]]:
    """W5 serving knob: the smallest grid nprobe whose measured recall@k
    meets ``target_recall`` on the given validation queries → (nprobe,
    executed sweep rows).  This is :func:`nprobe_sweep` (``sweep`` holds
    its other arguments) with the target as its stop line instead of the
    fixed 0.997 (the reference's saturation loop,
    src/test_search.cpp:155-199) — cheaper than a full-grid sweep, and
    the returned rows document the achieved (recall, ratio, QPS) at the
    chosen setting.  ``search`` must run the phase-2 config the index
    will serve with, or the recorded recall will not transfer.

    If no grid point reaches the target (or recall plateaus first), the
    largest executed nprobe is returned — callers can check the rows'
    tail recall to detect an unmet target.

    Production shape: run at index-build time on a held-out query
    sample, persist the chosen nprobe next to the index meta, serve
    with it; re-tune when the index is rebuilt (like centroid
    retraining).
    """
    rows = nprobe_sweep(queries, base, search, recall_stop=target_recall, **sweep)
    for r in rows:
        if r.recall >= target_recall:
            return r.nprobe, rows
    return rows[-1].nprobe, rows


def sweep_to_df(spark: SparkSession, rows: list[SweepRow]) -> DataFrame:
    """A5/S7: sweep results as a DataFrame for the CSV sink
    (src/test_search.cpp:136-150)."""
    return spark.createDataFrame(
        [(r.nprobe, round(r.recall, 6), round(r.ratio, 6), round(r.qps, 2)) for r in rows],
        "nprobe int, recall double, ratio double, qps double",
    )


def save_results_csv(rows: list[SweepRow], results_dir: str, dataset: str,
                     tag: str = "exhaf4") -> str:
    """S7: the reference's committed results artifact —
    ``results/exrabitq/<dataset>_<tag>.csv`` with header
    ``nprobe,QPS,recall,ratio`` (results/exrabitq/openai1536_exhaf4.csv:1,
    written by the sweep in src/test_search.cpp:136-150).  Driver-side
    plain file: a sweep is < ~20 rows by construction (the grid), so a
    distributed write would be pure overhead."""
    import os

    out_dir = os.path.join(results_dir, "exrabitq")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{dataset}_{tag}.csv")
    with open(path, "w") as f:
        f.write("nprobe,QPS,recall,ratio\n")
        for r in rows:
            f.write(f"{r.nprobe},{r.qps:.2f},{r.recall:.5f},{r.ratio:.5f}\n")
    return path


def save_indexing_time_csv(results_dir: str, dataset: str,
                           minutes: float) -> str:
    """S7: the reference's indexing-time artifact —
    ``results/indexing_time/<dataset>.csv`` (the log path declared by
    src/create_index.cpp:21,27; the value is the 'Indexing time: X
    miniutes' figure printed at :52).  Appends one timestamped row so
    successive builds accumulate a history."""
    import os
    import time as _time

    out_dir = os.path.join(results_dir, "indexing_time")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{dataset}.csv")
    new = not os.path.exists(path)
    with open(path, "a") as f:
        if new:
            f.write("epoch_sec,indexing_minutes\n")
        f.write(f"{int(_time.time())},{minutes:.4f}\n")
    return path

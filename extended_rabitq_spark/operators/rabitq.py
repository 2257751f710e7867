"""RaBitQ + Extended-RaBitQ quantization operators (SURVEY §2.7).

Clean-room implementation of the published algorithms (RaBitQ:
arXiv 2405.12497; extended multi-bit codes: arXiv 2409.09913 — the papers
the reference cites in its README).  Reference parity citations are to
behavior, not code: build pipeline ``inc/index/Quantizer.hpp:233-311``,
estimators ``inc/index/Searcher.hpp:192-233``.

Math (all on *rotated residuals*; P is a seeded random orthonormal D×D):

  r  = P·(pad(x) − pad(c))        data residual      (P2/P3)
  o  = r / ‖r‖                    unit residual      (P4)
  bit[j] = o[j] > 0               1-bit code         (P5/Q1)
  code[j] ∈ [0, 2^B−1]            combined sign+magnitude code (Q2+Q3):
      s[j] = code[j] + 0.5 − 2^(B−1)   reconstruction, symmetric in ±
      (B=1 degenerates to s[j] = ±0.5 — plain RaBitQ sign code)

  The magnitude grid scale t is chosen per vector to maximize
  ⟨s, o⟩ / ‖s‖ by sweeping every breakpoint t = (c+1)/|o[j]| in
  ascending order with O(1) incremental updates (the fast_quantize
  sweep, behaviorally matching inc/index/Quantizer.hpp:138-219).

  Query:  qr = P·(pad(q) − pad(c)),  y2 = ‖qr‖²,  per candidate:
    ⟨s, qr⟩ = Σ s[j]·qr[j]
    est     = x2 + y2 − f_ip_ex·⟨s, qr⟩          (unbiased estimate)
    lb      = est − f_err·√y2                     (error lower bound)
  with per-row factors computed at build time:
    x2      = ‖r‖²
    f_ip_ex = 2·√x2 / ⟨s, o⟩                      (A4 re-scale factor)
    f_err   = 2·√x2 · √((1−X0²)/X0²) / √(D−1)     (A3 error bound,
              X0 = ⟨s,o⟩/‖s‖; non-finite → X0:=0.8 like
              inc/index/Quantizer.hpp:417-420)

Two-phase search (§4.2.2): rank candidates per query by the *1-bit* lower
bound, keep top γ·k, re-rank those with the full B-bit code, final top-k.
The reference's sequential ``distk`` threshold (inc/index/Pool.hpp:28-31)
becomes a rank cut — a superset at γ≥1, so quality ≥ reference at equal
nprobe.

Scale design: the build is ``repartition(cluster_id)`` + Arrow-batched
``mapInPandas`` (1 Spark task per cluster group ≡ the reference's OpenMP
task per cluster, inc/index/IVF.hpp:142-148); the search scores each
probed cluster with one BLAS matmul in an Arrow batch over a
``cluster_id``-partitioned parquet index, on a broadcast or a cogroup
route that :func:`_plan_search` picks from the batch size.
"""

from __future__ import annotations

import functools
import json
import math
import os
from typing import Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions import vector as V
from ..localdf import local_rows_df
from .ivf import select_probes
from .knn import topk

DEFAULT_SEED = 42


def pad64(dim: int) -> int:
    """Next multiple of 64 (P1, inc/utils/tools.hpp:8-14)."""
    return ((dim + 63) // 64) * 64


def rotation_matrix(D: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Seeded random orthonormal D×D via QR (P2, inc/index/Rotator.hpp:14-19;
    deterministic here, unlike Eigen's implicit global seed).

    Memoized per (D, seed): the QR costs ~1 s at D=1536 and every
    build/search entry point needs P — callers must treat the returned
    array as read-only (it is shared and broadcast)."""
    return _rotation_matrix_cached(D, seed)


from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=8)
def _rotation_matrix_cached(D: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    A = rng.standard_normal((D, D))
    Q, R = np.linalg.qr(A)
    # Sign-fix so the decomposition is unique → fully deterministic.
    Q = Q * np.sign(np.diag(R))
    Q = np.ascontiguousarray(Q.astype(np.float64))
    Q.setflags(write=False)
    return Q


def fast_quantize_batch(O_abs: np.ndarray, ex_bits: int) -> np.ndarray:
    """Q2: optimal-scale magnitude codes for a batch of |unit residuals|.

    For each row u (non-negative, unit-norm), pick grid scale t maximizing
    ⟨v, u⟩/‖v‖ with v[j] = min(floor(t·u[j]), M−1) + 0.5, by sweeping all
    breakpoints t=(c+1)/u[j] ascending with cumulative-sum updates
    (vectorized form of the reference's heap sweep,
    inc/index/Quantizer.hpp:138-219).  Returns int codes in [0, M−1],
    M = 2^ex_bits.  ex_bits=0 → all-zero codes (pure sign quantization).

    Rows are processed in chunks bounding the sweep's event temporaries
    (~8 arrays of rows×D·(M−1) float64): at D=1536/B=4 an unchunked
    1000-row batch allocates ~1 GB of first-touch pages (measured 20 s
    cold vs 1.5 s chunked) and multiplies across concurrent Python
    workers — chunking caps peak memory per worker at ~130 MB with no
    steady-state cost (identical output, pure row-wise computation).
    """
    n, D = O_abs.shape
    M = 1 << ex_bits
    codes = np.zeros((n, D), dtype=np.int32)
    if ex_bits == 0 or n == 0:
        return codes
    events_per_row = D * (M - 1)
    chunk = max(1, 2_000_000 // max(events_per_row, 1))
    if n > chunk:
        for i in range(0, n, chunk):
            codes[i : i + chunk] = fast_quantize_batch(O_abs[i : i + chunk], ex_bits)
        return codes
    # Fully batch-vectorized sweep: every row gets the SAME event count
    # L = D·(M−1) by assigning zero dims t=∞ breakpoints (they sort to the
    # tail with zero ⟨v,u⟩ increment, so the argmax never benefits from
    # them).  One argsort per row via a single (n, L) axis-1 sort — this
    # is what makes the build-side mapInPandas fast enough for 100 TB
    # (the per-row heap loop measured ~12 ms/row; this path ~0.05 ms).
    U = O_abs.astype(np.float64)
    nzmask = U > 1e-12
    safe_u = np.where(nzmask, U, np.inf)  # 1/inf → breakpoint at 0? no: c/u → 0?
    # breakpoint t for (dim j, new code c) is c/u[j], c in 1..M-1
    cs = np.arange(1, M, dtype=np.float64)
    # events laid out (n, D, M-1) then flattened to (n, L)
    with np.errstate(divide="ignore"):
        T = (cs[None, None, :] / np.where(nzmask, U, 0.0)[:, :, None]).reshape(n, -1)
    T[~np.isfinite(T)] = np.inf  # zero dims → events never fire
    U_inc = np.where(nzmask, U, 0.0)[:, :, None].repeat(M - 1, axis=2).reshape(n, -1)
    C_inc = np.broadcast_to(cs, (n, D, M - 1)).reshape(n, -1)
    order = np.argsort(T, axis=1, kind="stable")
    T_s = np.take_along_axis(T, order, axis=1)
    U_s = np.take_along_axis(U_inc, order, axis=1)
    C_s = np.take_along_axis(C_inc, order, axis=1)
    S1_0 = 0.5 * np.where(nzmask, U, 0.0).sum(axis=1)  # ⟨v,u⟩ at t→0+
    S2_0 = np.full(n, 0.25 * D)  # ‖v‖² counts every dim
    S1 = S1_0[:, None] + np.cumsum(U_s, axis=1)
    S2 = S2_0[:, None] + np.cumsum(2.0 * C_s, axis=1)  # Δv² = 2c per event
    obj = S1 / np.sqrt(S2)
    obj[~np.isfinite(T_s)] = -np.inf  # events at t=∞ are unreachable
    best = np.argmax(obj, axis=1)
    rows = np.arange(n)
    improved = obj[rows, best] > S1_0 / np.sqrt(S2_0)
    t_best = T_s[rows, best]
    nxt = np.minimum(best + 1, T_s.shape[1] - 1)
    t_next = T_s[rows, nxt]
    t_next = np.where(np.isfinite(t_next) & (t_next > t_best), t_next, t_best * (1 + 1e-9))
    t_mid = 0.5 * (t_best + t_next)
    with np.errstate(invalid="ignore"):
        cand_codes = np.clip(np.floor(t_mid[:, None] * U), 0, M - 1).astype(np.int32)
    cand_codes[~nzmask] = 0
    take = improved & np.isfinite(t_mid)
    codes[take] = cand_codes[take]
    return codes


def quantize_rows(
    X: np.ndarray, C: np.ndarray, P: np.ndarray, total_bits: int
) -> dict[str, np.ndarray]:
    """Quantize a batch: rows X (n×dim) against per-row centroids C (n×dim),
    rotation P (D×D, D=pad64(dim)).  Returns combined codes + factors.

    Behavioral parity: DataQuantizer::quantize
    (inc/index/Quantizer.hpp:233-311) — pad/rotate/residual/normalize →
    sign bits → ex codes → factors; float guards reproduced.
    """
    n, dim = X.shape
    D = P.shape[0]
    ex_bits = total_bits - 1
    M = 1 << ex_bits
    R = np.zeros((n, D), dtype=np.float64)
    R[:, :dim] = X.astype(np.float64) - C.astype(np.float64)
    R = R @ P.T  # rotated residuals
    x2 = (R * R).sum(axis=1)
    xnorm = np.sqrt(x2)
    safe = xnorm > 1e-20
    O = np.where(safe[:, None], R / np.where(xnorm[:, None] == 0, 1.0, xnorm[:, None]),
                 1.0 / math.sqrt(D))  # zero-norm fallback (space.hpp:773-777)
    signs = (O > 0).astype(np.int32)  # strict >: exact zeros → bit 0
    ex_codes = fast_quantize_batch(np.abs(O), ex_bits)
    # combined code in [0, 2^B−1]: bit=1 → M+c ; bit=0 → (M−1)−c  (Q3 sign
    # restore, behaviorally inc/index/Quantizer.hpp:480-485)
    code = np.where(signs == 1, M + ex_codes, (M - 1) - ex_codes).astype(np.int16)
    s = code.astype(np.float64) + 0.5 - M  # reconstruction
    s_norm = np.sqrt((s * s).sum(axis=1))
    ip_so = (s * O).sum(axis=1)  # ⟨s, o⟩
    X0 = ip_so / np.where(s_norm == 0, 1.0, s_norm)  # cosine(s, o)
    # non-finite / degenerate guard (Quantizer.hpp:417-420 uses 0.8)
    X0 = np.where(np.isfinite(X0) & (X0 > 1e-6), X0, 0.8)
    ip_so = np.where(np.isfinite(ip_so) & (np.abs(ip_so) > 1e-12), ip_so, 1.0)
    f_ip_ex = 2.0 * xnorm / ip_so
    f_err = 2.0 * xnorm * np.sqrt(np.maximum(1.0 - X0 * X0, 0.0)) / (X0 * math.sqrt(D - 1))
    return {"code": code, "x2": x2, "f_ip_ex": f_ip_ex, "f_err": f_err}


# --------------------------------------------------------------------------
# Index build / save / load (S4/S5)
# --------------------------------------------------------------------------


def _mips_aug_expr(vec: str, m: float) -> str:
    """SQL text appending the MIPS coordinate √(max(M²−‖x‖², 0))."""
    return (
        f"concat(transform({vec}, x -> CAST(x AS DOUBLE)), "
        f"array(sqrt(greatest(CAST({m * m!r} AS DOUBLE) - {V.l2sq_self(vec)}, "
        f"CAST(0.0 AS DOUBLE)))))"
    )


def prepare_queries_for_metric(queries: DataFrame, meta: dict) -> DataFrame:
    """Apply an index's metric-specific query-side transform (from its
    meta): cosine L2-normalizes, ip appends the zero MIPS coordinate,
    l2 is the identity.  The single place that knows how a query enters
    a saved index's geometry — used by :func:`rabitq_search` and by any
    caller building probe DataFrames against index artifacts (e.g. the
    CLI's graph-probed search)."""
    metric = meta.get("metric", "l2")
    if metric == "cosine":
        return queries.withColumn("qvec", F.expr(V.l2_normalize("qvec")))
    if metric == "ip":
        return queries.withColumn(
            "qvec",
            F.expr(
                "concat(transform(qvec, x -> CAST(x AS DOUBLE)), "
                "array(CAST(0.0 AS DOUBLE)))"
            ),
        )
    return queries


def mips_prepare(
    base: DataFrame, vec: str = "vec", m: float | None = None
) -> tuple[DataFrame, float]:
    """MIPS→L2 reduction: augment each vector with √(M²−‖x‖²) so L2
    ranking over the augmented vectors equals inner-product ranking
    (Bachrach et al.'s order-preserving transformation; the standard
    move for IP over an L2 index).  Returns (augmented df, M).

    Use to train centroids for a ``metric='ip'`` index — the augmented
    space is where the index's clustering lives.  ``m`` pins an
    existing index's recorded norm (meta['mips_norm']); omitted, M is
    one MAX aggregate over the corpus."""
    if m is None:
        row = base.select(F.max(F.expr(V.l2sq_self(vec))).alias("s")).first()
        m = math.sqrt(float(row["s"] or 0.0))
    return base.withColumn(vec, F.expr(_mips_aug_expr(vec, m))), m


def build_index(
    base: DataFrame,
    centroids: DataFrame,
    total_bits: int = 4,
    seed: int = DEFAULT_SEED,
    id_: str = "id",
    vec: str = "vec",
    metric: str = "l2",
    mips_m: float | None = None,
) -> tuple[DataFrame, dict]:
    """IVF+RaBitQ index build (create_index end-to-end,
    src/create_index.cpp:10-54).

    base: (id, vec); centroids: (cluster_id, centroid).  Returns the index
    DataFrame ``(cluster_id, id, code ARRAY<SMALLINT>, x2, f_ip_ex,
    f_err DOUBLE)`` and a meta dict (dim, D, total_bits, seed).

    Assignment (J2 argmin) is FUSED with quantization into a single
    Arrow-batched map-only pass: per batch, one BLAS matmul against the
    broadcast centroid matrix picks the nearest centroid (ties → lowest
    cluster_id, same as the declarative ``assign_clusters``), then the
    batch quantizes against its chosen centroids.  No join, no window,
    no shuffle of raw vectors — the only shuffle is the subsequent
    ``repartition(cluster_id)`` of the *compact code rows* for the
    partitioned write (the Spark analog of the per-cluster OpenMP loop,
    inc/index/IVF.hpp:142-148).  Measured 6× faster than the
    join+window build at 100k vectors; the gap widens with scale.

    ``metric='cosine'``: vectors are L2-normalized before assignment
    and quantization (cosine ≡ L2 on the unit sphere — the reference's
    own preprocessing for non-L2 metrics, python/utils/preprocess.py:
    3-5), and the meta records the metric so :func:`rabitq_search`
    normalizes the query side (and any rerank base) to match.  Pass
    centroids trained on the NORMALIZED vectors for sensible
    partitions (any centroids keep full-probe correctness).

    ``metric='ip'`` (max inner product): the classic MIPS→L2 reduction
    — each vector x augments to [x, √(M²−‖x‖²)] with M = max corpus
    norm (``mips_norm``; computed in one aggregate when omitted), and a
    query augments to [q, 0]: ‖q'−x'‖² = ‖q‖² + M² − 2⟨q,x⟩, so L2
    ranking in the augmented space IS inner-product ranking.  Pass
    centroids trained on :func:`mips_prepare`-augmented vectors (they
    must have dim+1 coordinates); the meta records metric and M so
    search/append/rebalance stay in the augmented geometry.  Vectors
    appended later with ‖x‖ > M get a clamped 0 coordinate — their IP
    ranking degrades gracefully; rebuild when the corpus norm grows.
    """
    if metric not in ("l2", "cosine", "ip"):
        raise ValueError(f"build_index: unsupported metric {metric!r}")
    mips_norm: float | None = None
    if metric == "cosine":
        base = base.withColumn(vec, F.expr(V.l2_normalize(vec)))
    elif metric == "ip":
        base, mips_norm = mips_prepare(base, vec=vec, m=mips_m)
    spark = base.sparkSession
    cent_rows = sorted(
        (int(r[0]), np.array(r[1], dtype=np.float64))
        for r in centroids.select("cluster_id", "centroid").collect()
    )
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.stack([v for _, v in cent_rows])  # K × dim
    bC = spark.sparkContext.broadcast((cids, cmat))
    # dim comes from the (already-collected) centroids — same space as
    # base by contract, and it saves the base.first() probe job that
    # used to run before every build
    dim = int(cmat.shape[1])
    D = pad64(dim)
    P = rotation_matrix(D, seed)
    bP = spark.sparkContext.broadcast(P)

    def assign_and_quantize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P_ = bP.value
        cids_, cmat_ = bC.value
        c_sq = (cmat_ * cmat_).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec].tolist(), dtype=np.float64)
            # argmin_c ‖x−c‖² = argmin_c (‖c‖² − 2⟨x,c⟩); ties → first
            # (lowest cluster_id, cent_rows sorted) like the declarative J2
            d = c_sq[None, :] - 2.0 * (X @ cmat_.T)
            nearest = np.argmin(d, axis=1)
            C = cmat_[nearest]
            out = quantize_rows(X, C, P_, total_bits)
            yield pd.DataFrame(
                {
                    "cluster_id": cids_[nearest].astype(np.int32),
                    "id": pdf[id_].to_numpy(),
                    "code": list(out["code"]),
                    "x2": out["x2"],
                    "f_ip_ex": out["f_ip_ex"],
                    "f_err": out["f_err"],
                }
            )

    schema = (
        "cluster_id int, id long, code array<smallint>, "
        "x2 double, f_ip_ex double, f_err double"
    )
    index_df = base.select(id_, vec).mapInPandas(assign_and_quantize, schema).repartition(
        "cluster_id"
    )
    meta = {"dim": dim, "D": D, "total_bits": total_bits, "seed": seed,
            "metric": metric}
    if mips_norm is not None:
        meta["mips_norm"] = mips_norm
    return index_df, meta


def save_index(
    index_df: DataFrame, centroids: DataFrame, meta: dict, path: str
) -> None:
    """S4: persist codes partitioned by cluster_id (partition pruning ≡
    cluster pointer slicing, inc/index/IVF.hpp:219-252) + rotated-centroid
    side table + meta JSON.

    Codes stay ``ARRAY<SMALLINT>``: the reference bit-packs them (Q4) for
    its SIMD kernels, but parquet's dictionary/RLE encoding already
    stores the arrays smaller than packed BINARY (COVERAGE.md, Q4).
    """
    index_df.write.mode("overwrite").partitionBy("cluster_id").parquet(f"{path}/codes")
    _save_side_artifacts(index_df.sparkSession, centroids, meta, path)


def _read_meta(path: str) -> dict:
    """A saved index's ``meta.json`` — the one reader every entry point
    uses, so an index whose codes were saved bit-packed (a retired BINARY
    layout, ``"packed": true``) fails here with a named error instead of
    inside a search worker."""
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    if meta.get("packed"):
        raise ValueError(
            f"index at {path} stores bit-packed BINARY codes, a layout "
            "that is no longer read — rebuild the index"
        )
    return meta


def _partition_ids(path: str) -> list[int]:
    """cluster_id values of the ``{path}/codes`` partition directories."""
    return [
        int(name.split("=", 1)[1])
        for name in os.listdir(f"{path}/codes")
        if name.startswith("cluster_id=")
    ]


def _replace_partitions(path: str, rows: DataFrame, cluster_ids) -> None:
    """Replace the ``cluster_id`` partitions ``cluster_ids`` of
    ``{path}/codes`` with ``rows`` — their complete new contents, which
    may add partitions (rebalance's new ids) or leave some empty (a
    delete that removes every row of a cluster).  Every maintenance
    rewrite (compact, delete, rebalance) goes through here.

    ``rows.repartition("cluster_id")`` is written to one staging
    directory, one file per partition; then only the named partition
    directories move out and the staged ones move in.  Partitions not
    named are never opened or rewritten.  When no partition is left, a
    schema-only table is written so the next load still infers the
    schema; the next rewrite or :func:`append_to_index` that brings a
    partition back removes it.

    The swap is renames, so no *torn* partition is ever visible on a
    POSIX FS, but it is not atomic: a reader listing between the renames
    sees a partition missing, and a scan in flight can lose files.  Run
    maintenance in a quiescent reader window (on object stores, prefer a
    table format with an atomic replace, Iceberg/Delta)."""
    import shutil

    codes, stage = f"{path}/codes", f"{path}/codes_staging"
    rows.repartition("cluster_id").write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(stage)
    os.makedirs(f"{stage}/_replaced")
    for cid in cluster_ids:
        part = f"cluster_id={cid}"
        if os.path.isdir(f"{codes}/{part}"):
            os.rename(f"{codes}/{part}", f"{stage}/_replaced/{part}")
    for name in os.listdir(stage):
        if name.startswith("cluster_id="):
            os.rename(f"{stage}/{name}", f"{codes}/{name}")
    shutil.rmtree(stage)
    if _partition_ids(path):
        _drop_schema_only_file(path)
    else:
        rows.sparkSession.createDataFrame([], rows.schema).write.mode(
            "overwrite"
        ).parquet(codes)


def _drop_schema_only_file(path: str) -> None:
    """Remove the schema-only root file (and its checksum) that
    :func:`_replace_partitions` leaves in an emptied ``{path}/codes``,
    once a ``cluster_id`` partition exists again, so no later load lists
    or opens it.  Root ``part-`` files only ever come from that write."""
    codes = f"{path}/codes"
    for name in os.listdir(codes):
        if name.startswith(("part-", ".part-")):
            os.remove(f"{codes}/{name}")


def _save_side_artifacts(spark, centroids: DataFrame, meta: dict, path: str) -> None:
    """Rotated-centroid side table + meta.json (written by
    :func:`save_index` and refreshed by :func:`rebalance_index`)."""
    centroids_with_rotation(spark, centroids, meta).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        json.dump(meta, f)


def append_to_index(
    new_vectors: DataFrame,
    path: str,
    id_: str = "id",
    vec: str = "vec",
) -> None:
    """Incremental insert (beyond the reference: its index is immutable,
    IVF.hpp has no add path).  New vectors quantize against the SAVED
    centroids/rotation (no retrain — standard IVF practice) and append as
    new parquet files inside the existing cluster_id partitions; readers
    see them on the next load with zero rewrite of existing data.
    Periodic centroid retraining is a rebuild, as it is for every IVF
    system."""
    spark = new_vectors.sparkSession
    meta = _read_meta(path)
    centroids = spark.read.parquet(f"{path}/centroids").select("cluster_id", "centroid")
    # metric rides with the index: a cosine index normalizes appended
    # vectors exactly like the original build did; an ip index augments
    # them with the SAVED corpus norm (never a recomputed one — that
    # would shift every stored coordinate's geometry)
    index_df, _ = build_index(
        new_vectors, centroids, total_bits=meta["total_bits"], seed=meta["seed"],
        id_=id_, vec=vec, metric=meta.get("metric", "l2"),
        mips_m=meta.get("mips_norm"),
    )
    index_df.write.mode("append").partitionBy("cluster_id").parquet(f"{path}/codes")
    if _partition_ids(path):
        _drop_schema_only_file(path)


def centroids_with_rotation(
    spark: SparkSession, centroids: DataFrame, meta: dict
) -> DataFrame:
    """(cluster_id, centroid, centroid_rot) side table for the SQL scorer
    — the rotated-centroid artifact save_index persists, computed in
    memory for unsaved indexes.  K is small by design; driver-side numpy
    is the same move as the reference registering rotated centroids with
    the initializer (inc/index/IVF.hpp:150)."""
    P = rotation_matrix(meta["D"], meta["seed"])
    dim, D = meta["dim"], meta["D"]
    data = []
    for r in centroids.select("cluster_id", "centroid").collect():
        c = np.zeros(D)
        c[:dim] = np.array(r["centroid"], dtype=np.float64)
        data.append(
            (int(r["cluster_id"]), [float(x) for x in r["centroid"]],
             [float(x) for x in (c @ P.T)])
        )
    # LocalRelation-backed (r11): downstream collect/broadcast of the
    # K-row rotated-centroid table is job-free (see localdf; was a
    # single-slice parallelize = one Python-RDD worker per action)
    return local_rows_df(
        spark, data,
        "cluster_id int, centroid array<double>, centroid_rot array<double>",
    )


def compact_index(spark: SparkSession, path: str) -> None:
    """Index maintenance: rewrite the codes table to one file per
    cluster_id partition (hash-clustered shuffle, so every cluster's rows
    land in a single write task).

    Repeated :func:`append_to_index` calls accumulate small files per
    partition (every append writes ≥1 file per touched cluster) — the
    classic streaming-ingest small-files problem; at 100 TB unbounded
    file counts degrade scan planning and open() overhead.  Search
    results are unchanged (same rows, same values) — verified by test.
    The swap is :func:`_replace_partitions` (see its non-atomicity
    caveat)."""
    _replace_partitions(
        path, spark.read.parquet(f"{path}/codes"), _partition_ids(path)
    )


def delete_from_index(
    spark: SparkSession, path: str, ids: DataFrame, id_: str = "id"
) -> int:
    """Index maintenance: delete vectors by id (beyond the reference —
    its index is immutable).  Returns the number of rows removed.

    Only the cluster partitions that actually contain deleted ids are
    rewritten: the delete set joins broadcast against the codes scan to
    find affected ``cluster_id`` values, then an anti-join rewrites just
    those partitions through :func:`_replace_partitions` (see its
    non-atomicity caveat).  At 100 TB a delete touches O(affected
    clusters), not the whole index — and the codes scan of unaffected
    partitions never runs (partition pruning on the IN filter).  A
    partition whose every row is deleted is removed outright.
    """
    del_ids = ids.select(F.col(id_).alias("id")).distinct()
    codes = spark.read.parquet(f"{path}/codes")
    hit = (
        codes.join(F.broadcast(del_ids), "id", "left_semi")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_del"))
        .collect()
    )
    if not hit:
        return 0
    affected = [int(r["cluster_id"]) for r in hit]
    remaining = codes.where(F.col("cluster_id").isin(affected)).join(
        F.broadcast(del_ids), "id", "left_anti"
    )
    _replace_partitions(path, remaining, affected)
    return sum(int(r["n_del"]) for r in hit)


def rebalance_index(
    spark: SparkSession,
    path: str,
    base: DataFrame,
    max_ratio: float = 2.0,
    id_: str = "id",
    vec: str = "vec",
    sample_per_cluster: int = 4096,
    seed: int = DEFAULT_SEED,
) -> dict:
    """Index maintenance: split hot clusters in two (beyond the
    reference — its K is fixed at build, README.md:29-33, so corpus
    drift forces a full rebuild there).

    Clusters with ``n > max_ratio · avg`` (the stragglers
    :func:`index_stats` flags via ``imbalance_r``) are each split by a
    driver-side 2-means on a bounded per-cluster sample; their vectors
    re-quantize against the sub-centroids (one fused assign+quantize
    pass over ONLY the hot vectors) and rewrite in place through
    :func:`_replace_partitions` — one sub-centroid keeps the old
    cluster_id, the other gets a fresh id.
    Cold partitions and their codes are untouched: sub-centroids lie
    inside the old Voronoi cell, so this is a local refinement, the
    standard incremental-IVF maintenance move (a periodic full retrain
    remains a rebuild, as for every IVF system).

    Search semantics: at full probes, results are IDENTICAL (per-vector
    codes depend only on the vector's own centroid; the exact re-rank is
    unchanged) — asserted in tests.  At partial probes, probe selection
    sees finer centroids where it was coarsest, so recall at equal
    nprobe is preserved or improved while the hottest probe-join
    partition halves.

    Returns ``{"split": [old_ids...], "new_ids": [...], "rows_moved": n}``.
    """
    meta = _read_meta(path)
    codes = spark.read.parquet(f"{path}/codes")
    sizes = codes.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    if not sizes:
        return {"split": [], "new_ids": [], "rows_moved": 0}
    avg = sum(int(r["n"]) for r in sizes) / len(sizes)
    hot = sorted(
        int(r["cluster_id"])
        for r in sizes
        if int(r["n"]) > max_ratio * avg and int(r["n"]) >= 2
    )
    if not hot:
        return {"split": [], "new_ids": [], "rows_moved": 0}
    max_cid = max(int(r["cluster_id"]) for r in sizes)
    cents = spark.read.parquet(f"{path}/centroids")
    cold_cents = cents.where(~F.col("cluster_id").isin(hot)).select(
        "cluster_id", "centroid"
    )

    # Bounded per-cluster sample → driver 2-means per hot cluster (the
    # same sampling posture as ivf.sampled_kmeans_centroids: the sample
    # is O(hot · sample_per_cluster), never the corpus).
    hot_ids = codes.where(F.col("cluster_id").isin(hot)).select(
        F.col("cluster_id").alias("_old_cid"), "id"
    )
    hot_vecs = base.select(F.col(id_).alias("id"), F.col(vec).alias("_v")).join(
        hot_ids, "id"
    )
    metric = meta.get("metric", "l2")
    if metric == "cosine":
        # the saved codes/centroids live on the unit sphere — sample,
        # 2-means, and re-quantize in that same space
        hot_vecs = hot_vecs.withColumn("_v", F.expr(V.l2_normalize("_v")))
    # (metric == 'ip': hot_vecs stay RAW here — build_index augments
    # them itself below; only the 2-means SAMPLE is augmented driver-
    # side so the sub-centroids land in the saved augmented geometry)
    from ..functions import text as _T

    w = Window.partitionBy("_old_cid").orderBy(
        F.expr(_T.hash60("CAST(id AS STRING)")), F.col("id")
    )
    samp = (
        hot_vecs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= sample_per_cluster)
        .select("_old_cid", "_v")
        .collect()
    )
    by_cluster: dict[int, list] = {}
    for r in samp:
        by_cluster.setdefault(int(r["_old_cid"]), []).append(r["_v"])
    # A hot cluster whose ids are missing from (a stale/mismatched)
    # `base` cannot be split — fail loudly rather than KeyError, and
    # refuse degenerate 1-row samples (two identical sub-centroids).
    uncovered = [c for c in hot if len(by_cluster.get(c, [])) < 2]
    if uncovered:
        raise ValueError(
            f"rebalance_index: base table covers < 2 vectors for hot "
            f"cluster(s) {uncovered} — pass the same base the index was "
            f"built from"
        )

    if metric == "ip":
        m_saved = float(meta["mips_norm"])
        for cid in list(by_cluster):
            Xr = np.asarray(by_cluster[cid], dtype=np.float64)
            aug = np.sqrt(np.maximum(m_saved * m_saved - (Xr * Xr).sum(axis=1), 0.0))
            by_cluster[cid] = [
                np.concatenate([x, [a]]) for x, a in zip(Xr, aug)
            ]
    sub_rows, new_ids = [], []
    next_id = max_cid + 1
    for pos, cid in enumerate(hot):
        X = np.asarray(by_cluster[cid], dtype=np.float64)
        c0, c1 = _two_means(X, seed=seed + pos)
        sub_rows.append((cid, [float(x) for x in c0]))
        sub_rows.append((next_id, [float(x) for x in c1]))
        new_ids.append(next_id)
        next_id += 1
    sub_cents = local_rows_df(
        spark, sub_rows, "cluster_id int, centroid array<double>"
    )

    # One fused assign+quantize pass over the hot vectors only.
    new_codes, _ = build_index(
        hot_vecs.select("id", F.col("_v").alias("vec")),
        sub_cents,
        total_bits=meta["total_bits"],
        seed=meta["seed"],
        metric=metric,  # cosine: idempotent re-normalize; ip: augment
        mips_m=meta.get("mips_norm"),
    )
    _replace_partitions(path, new_codes, hot + new_ids)
    rows_moved = int(
        spark.read.parquet(f"{path}/codes")
        .where(F.col("cluster_id").isin(hot + new_ids))
        .count()
    )

    # Refresh the centroid side table (cold rows unchanged, hot replaced
    # by their sub-centroids) and keep meta as-is.
    _save_side_artifacts(
        spark, cold_cents.unionByName(sub_cents), meta, path
    )
    return {"split": hot, "new_ids": new_ids, "rows_moved": rows_moved}


def _two_means(X: np.ndarray, seed: int, iters: int = 25) -> tuple:
    """Driver-side 2-means on a bounded sample (numpy Lloyd's; k=2).

    Deterministic: seeded farthest-pair-ish init (extreme points along
    the top principal direction of a seeded random projection)."""
    rng = np.random.default_rng(seed)
    proj = X @ rng.standard_normal(X.shape[1])
    c = np.stack([X[int(np.argmin(proj))], X[int(np.argmax(proj))]])
    if np.allclose(c[0], c[1]):
        return c[0], c[1]
    for _ in range(iters):
        d0 = ((X - c[0]) ** 2).sum(axis=1)
        d1 = ((X - c[1]) ** 2).sum(axis=1)
        a = d1 < d0
        if (~a).all() or a.all():
            break
        nc = np.stack([X[~a].mean(axis=0), X[a].mean(axis=0)])
        if np.allclose(nc, c):
            c = nc
            break
        c = nc
    return c[0], c[1]


def index_stats(codes: DataFrame) -> DataFrame:
    """Index health report → one row: (n_clusters, n_rows, min_cluster,
    max_cluster, avg_cluster_r, imbalance_r).

    ``imbalance_r = max/avg`` is the skew number that predicts probe-join
    task stragglers at scale (a hot cluster = a hot partition); feed it
    into the retrain-vs-append decision the same way the reference's
    fixed K requires re-running ivf.py when the corpus drifts.  Two tiny
    aggregations over (cluster_id) — runs on the 100 TB index in one
    partial-agg pass."""
    per = codes.groupBy("cluster_id").agg(F.count("*").alias("n"))
    return per.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("n").cast("long").alias("n_rows"),
        F.min("n").cast("long").alias("min_cluster"),
        F.max("n").cast("long").alias("max_cluster"),
        F.round(F.avg("n"), 6).alias("avg_cluster_r"),
        F.round(F.max("n") / F.avg("n"), 6).alias("imbalance_r"),
    )


def load_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """S5: reload (codes, centroids, meta) (inc/index/IVF.hpp:254-293)."""
    meta = _read_meta(path)
    codes = spark.read.parquet(f"{path}/codes")
    centroids = spark.read.parquet(f"{path}/centroids")
    return codes, centroids, meta


def search_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    rerank_base: DataFrame | None = None,
    use_graph: bool | None = None,
    **search_kw,
) -> DataFrame:
    """One-call serving over a saved index (SURVEY §4.1a sugar):
    ``search_index(spark, path, queries)`` loads the artifacts and runs
    :func:`rabitq_search` with the index's OWN recorded defaults.

    - ``nprobe``: defaults to the persisted ``tuned_nprobe`` (written by
      ``search --target-recall --save-tuned``), served under the phase-2
      config the tune measured (``tuned_refine`` and ``tuned_refine_mode``
      unless the caller passes ``refine``/``refine_mode``); warns when the
      recorded tune missed its target (``tuned_target_met`` false) or ran
      with a rerank that no ``rerank_base`` reproduces; falls back to
      ``max(1, K/16)`` — the reference's published operating points
      cluster around nprobe ≈ K/1000..K/100, but an untuned index gets a
      recall-leaning default.
    - ``use_graph``: ``None`` auto-detects the persisted ``<path>/graph``
      W2 artifact and routes probe selection through beam search, the
      same decision the reference makes by K at build time
      (inc/index/IVF.hpp:157-161); ``False`` forces exact W1 probes.
    - any :func:`rabitq_search` knob passes through (``refine``,
      ``estimator``, ``refine_mode``...).
    - index-kind dispatch: a ``meta.json`` with ``kind: "ivfpq"`` (from
      ``pq.save_ivfpq_index``) routes to :func:`pq.search_ivfpq_index`
      with the same (queries, k, nprobe, rerank_base) contract — one
      serving entry point regardless of which codec built the index.
    """
    import warnings

    if _read_meta(path).get("kind") == "ivfpq":
        from . import pq

        if use_graph:
            raise ValueError(
                "search_index: use_graph applies to RaBitQ indexes only "
                "(ivfpq probes are exact W1)"
            )
        unknown = set(search_kw) - {"coarse_k"}
        if unknown:  # fail at the boundary, not deep in plan analysis
            raise TypeError(
                f"search_index: {sorted(unknown)} are RaBitQ-only knobs — "
                "an ivfpq index accepts only coarse_k"
            )
        if nprobe is None:
            n_cents = spark.read.parquet(f"{path}/centroids").count()
            nprobe = max(1, n_cents // 16)
        return pq.search_ivfpq_index(
            spark, path, queries.select("qid", "qvec"), nprobe=int(nprobe), k=k,
            rerank_base=rerank_base, **search_kw,
        )

    codes, cents_full, meta = load_index(spark, path)
    if nprobe is None:
        nprobe = meta.get("tuned_nprobe")
        if nprobe is not None:
            # tuned_recall holds only under the phase-2 config it was
            # measured with
            for key in ("refine", "refine_mode"):
                if f"tuned_{key}" in meta:
                    search_kw.setdefault(key, meta[f"tuned_{key}"])
            if meta.get("tuned_rerank") and rerank_base is None:
                warnings.warn(
                    f"search_index({path}): persisted tuned_nprobe={nprobe} "
                    "was tuned with an exact rerank — pass rerank_base to "
                    "reach its tuned_recall",
                    stacklevel=2,
                )
            if not meta.get("tuned_target_met", True):
                warnings.warn(
                    f"search_index({path}): persisted tuned_nprobe={nprobe} "
                    f"missed its recall target "
                    f"(tuned_recall={meta.get('tuned_recall')}, "
                    f"tuned_target={meta.get('tuned_target')}) — re-tune or "
                    "pass nprobe explicitly",
                    stacklevel=2,
                )
        else:
            nprobe = max(1, cents_full.count() // 16)
    probes = None
    if use_graph is None:
        use_graph = os.path.isdir(f"{path}/graph")
    if use_graph:
        from . import ivf

        graph = ivf.load_centroid_graph(spark, path)
        # probes computed in the saved graph's geometry (same move as the
        # CLI's --use-graph path) — the original queries pass through
        # rabitq_search untouched
        gq = prepare_queries_for_metric(queries.select("qid", "qvec"), meta)
        probes = ivf.graph_probes(gq, graph, int(nprobe))
    return rabitq_search(
        queries, codes, cents_full, meta, nprobe=int(nprobe), k=k,
        rerank_base=rerank_base, probes=probes, **search_kw,
    )


# --------------------------------------------------------------------------
# Search (E1/E2/E3 + W1/J3/W3)
# --------------------------------------------------------------------------


def rotate_queries(queries: DataFrame, meta: dict) -> DataFrame:
    """P2 on the query side: pad + rotate all queries in one Arrow-batched
    matmul (≡ the reference's single batch rotation,
    src/test_search.cpp:83-92).  → (qid, qrot ARRAY<DOUBLE>)."""
    spark = queries.sparkSession
    P = rotation_matrix(meta["D"], meta["seed"])
    bP = spark.sparkContext.broadcast(P)
    dim, D = meta["dim"], meta["D"]

    def rot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P_ = bP.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.zeros((len(pdf), D), dtype=np.float64)
            Q[:, :dim] = np.array(pdf["qvec"].tolist(), dtype=np.float64)
            QR = Q @ P_.T
            yield pd.DataFrame({"qid": pdf["qid"].to_numpy(), "qrot": list(QR)})

    return queries.mapInPandas(rot, "qid long, qrot array<double>")


# Fixed-X0 HIGH_ACC phase-1 bound constant: the reference bakes
# const_bound = bound·0.8·√D/2 = 0.58 into the SIMD kernel
# (inc/index/fastscan/FastScan.hpp:296,300 and the derivation comment at
# :335-357); the 5/√D factor is 2·(1/0.8)·(2/√D).
_HA_CONST_BOUND = 0.58


def _decode_s(pdf: pd.DataFrame, total_bits: int) -> np.ndarray:
    """Candidate batch → reconstruction matrix S = code + 0.5 − M."""
    M = 1 << (total_bits - 1)
    return np.array(pdf["code"].tolist(), dtype=np.float64) + 0.5 - M


def _score_cluster_np(
    S: np.ndarray,
    x2: np.ndarray,
    fip: np.ndarray,
    ferr: np.ndarray,
    QR: np.ndarray,
    y2: np.ndarray,
    estimator: str,
    D: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Shared numpy scoring kernel: (n codes) × (g queries) → est, lb.

    ``estimator='searcher'``: est = x2+y2−f_ip_ex·⟨s,qr⟩, lb = est−f_err·y
    (inc/index/Searcher.hpp:192-233).

    ``estimator='high_acc'``: same est — the HASearcher re-rank
    (inc/index/HASearcher.hpp:228-232) decomposes as
    FAC_RESCALE·⟨x_b,q'⟩ + ⟨long_code,q'⟩ − (FAC_RESCALE−0.5)·Σq'
    with combined code c = M·x_b + long_code, which is exactly
    ⟨c+0.5−M, q'⟩ = ⟨s, qr⟩/y, and xipnorm = 2‖r‖/⟨v,u⟩ = f_ip_ex
    (inc/index/Quantizer.hpp:474-476) — so the HA ex-distance is
    algebraically this est.  The lb differs: the HA phase-1 bound uses
    the SIGN BITS ONLY with a fixed X0 = 0.8 and a global const bound
    (FastScan.hpp:295-357):
        lb = x2 + y2 − (5/√D)·‖r‖·(⟨x_b, qr⟩ − 0.5·Σqr + 0.58·y).
    """
    IP = S @ QR.T  # (n, g) — ONE BLAS call per cluster chunk
    y = np.sqrt(y2)
    est = x2[:, None] + y2[None, :] - fip[:, None] * IP
    if estimator == "high_acc":
        Sb = (S > 0).astype(np.float64)  # x_b: sign bits of the code
        ipb = Sb @ QR.T
        sum_qr = QR.sum(axis=1)
        lb = (
            x2[:, None]
            + y2[None, :]
            - (5.0 / math.sqrt(D))
            * np.sqrt(x2)[:, None]
            * (ipb - 0.5 * sum_qr[None, :] + _HA_CONST_BOUND * y[None, :])
        )
    else:
        lb = est - ferr[:, None] * y[None, :]
    return est, lb


_SCORED_SCHEMA = "qid long, id long, est_dist double, est_lb double"
# sweep-amortized scoring tags each candidate with its (query, cluster)
# probe rank so ONE scored pool serves every nprobe ≤ the scored maximum
_SCORED_SCHEMA_PR = _SCORED_SCHEMA + ", probe_rank long"


def _scored_columns(
    est: np.ndarray,
    lb: np.ndarray,
    qg: np.ndarray,
    ids: np.ndarray,
    pr: np.ndarray | None,
    per_cluster_cut: int | None,
) -> dict[str, np.ndarray]:
    """One (n codes) × (g queries) block of both Arrow scorers → flat
    candidate columns (+ ``probe_rank`` when ``pr`` is given).

    With ``per_cluster_cut`` below n, the map-side E2 pre-cut keeps, per
    query, every row at or below the cut-th smallest est_lb (ties
    included → a SUPERSET of the global (est_lb, id) rank cut, so
    _finalize_topk returns identical results) — the shuffle into the
    global window carries ≤ cut·g rows per block instead of n·g."""
    n, g = est.shape
    if per_cluster_cut is not None and n > per_cluster_cut:
        kth = np.partition(lb, per_cluster_cut - 1, axis=0)[per_cluster_cut - 1, :]
        xi, qi = np.nonzero(lb <= kth[None, :])
        cols = {"qid": qg[qi], "id": ids[xi], "est_dist": est[xi, qi], "est_lb": lb[xi, qi]}
        if pr is not None:
            cols["probe_rank"] = pr[qi]
        return cols
    cols = {
        "qid": np.broadcast_to(qg, (n, g)).ravel(),
        "id": np.repeat(ids, g),
        "est_dist": est.ravel(),
        "est_lb": lb.ravel(),
    }
    if pr is not None:  # skip the n·g alloc on the hot path
        cols["probe_rank"] = np.broadcast_to(pr, (n, g)).ravel()
    return cols


def _l2_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared L2 over the last axis of two broadcastable float64 arrays,
    as ``functions.vector.l2sq(a, b, dim)``'s IEEE operations in their
    order — ((0.0 + (a₀−b₀)²) + (a₁−b₁)²) + … — so the value is bitwise
    the SQL one (a pairwise ``.sum()`` is not)."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        d = a[..., j] - b[..., j]
        acc += d * d
    return acc


# query×centroid distances per block of the probe fold: the running sum
# and the step's temporary (2 × 128 KB of float64) stay cache-resident
_PROBE_BLOCK = 1 << 14


def _probe_order(
    Q: np.ndarray, cmat: np.ndarray, cids: np.ndarray, take: int
) -> np.ndarray:
    """W1 for a block of queries Q (g × dim) → g × min(take, K) indices
    into ``cids`` of each query's nearest centroids (``cmat``, K × dim),
    ties to the lowest cluster_id: the order of ``ivf.select_probes``'
    window, bitwise — each distance is :func:`_l2_fold`'s IEEE operations
    in its order.  Both Arrow scorers probe through here.

    The fold runs over blocks of about ``_PROBE_BLOCK`` distances, on
    transposed copies of Q and cmat so each step reads one contiguous
    row of each."""
    K = len(cids)
    take = min(take, K)
    blk = max(1, _PROBE_BLOCK // max(K, 1))
    Qt, Ct = np.ascontiguousarray(Q.T), np.ascontiguousarray(cmat.T)
    order = np.empty((len(Q), take), dtype=np.int64)
    for s in range(0, len(Q), blk):
        qb = Qt[:, s : s + blk]
        acc = np.zeros((qb.shape[1], K))
        d = np.empty_like(acc)
        for j in range(len(Qt)):
            np.subtract.outer(qb[j], Ct[j], out=d)
            np.multiply(d, d, out=d)
            acc += d
        order[s : s + blk] = np.lexsort(
            (np.broadcast_to(cids, acc.shape), acc), axis=1
        )[:, :take]
    return order


def _vector_matrix(col: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow list<float|double> column → (n × dim float64, ok).

    ``ok`` is False where the SQL fold over ``get(v, j)``, j < dim, is
    NULL: a NULL vector, one shorter than dim, or one with a NULL among
    its first dim coordinates; the values of those rows are meaningless.
    Coordinates past dim are dropped — that fold never reads them."""
    off = col.offsets.to_numpy()
    ok = np.diff(off) >= dim
    if col.null_count:
        ok &= col.is_valid().to_numpy(zero_copy_only=False)
    values = col.values
    rows = np.flatnonzero(ok)
    idx = off[rows][:, None] + np.arange(dim)
    if values.null_count:
        ok[rows[values.is_null().to_numpy(zero_copy_only=False)[idx].any(axis=1)]] = False
    out = np.zeros((len(col), dim))
    out[rows] = values.to_numpy(zero_copy_only=False)[idx]
    return out, ok


def _driver_queries(
    batch: pa.Table | list, dim: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A collected (qid, qvec) batch → (qids, Q n × dim, ok), in row
    order.  ``batch`` is the Arrow table of ``DataFrame.toArrow()`` or a
    caller's (qid, qvec) rows, which are first put in the same Arrow
    form.  The broadcast scorer probes from Q and the broadcast rerank
    folds against it, so a batch is converted once per search."""
    if not isinstance(batch, pa.Table):
        batch = pa.table({
            "qid": pa.array([r[0] for r in batch], pa.int64()),
            "qvec": pa.array([r[1] for r in batch], pa.list_(pa.float64())),
        })
    qids = batch.column("qid").combine_chunks().cast(pa.int64()).to_numpy()
    Q, ok = _vector_matrix(batch.column("qvec").combine_chunks(), dim)
    return qids, Q, ok


def _exact_rerank(
    pairs: DataFrame, dim: int, queries: Broadcast | None = None
) -> DataFrame:
    """Exact squared L2 of each (qid, id) pair in one map-side Arrow pass
    → (qid, id, est_dist): only distances leave the task, never vectors.

    ``pairs`` holds each pair's base vector ``vec`` and, unless
    ``queries`` (a Spark broadcast of :func:`_driver_queries`) supplies
    it by qid, its query vector ``qvec``.  The value is bitwise
    ``knn.distance_col('l2', qvec, vec, dim)``: NULL where either
    vector is NULL, shorter than dim or has a NULL coordinate; the first
    dim coordinates of a longer one; NaN and inf as IEEE values (Arrow
    out, not pandas, which would turn NaN into NULL)."""
    schema = StructType([
        pairs.schema["qid"], pairs.schema["id"], StructField("est_dist", DoubleType())
    ])

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if queries is not None:
            qids, qmat, qok = queries.value
            by_qid = np.argsort(qids, kind="stable")
            sorted_qids = qids[by_qid]
        for b in batches:
            qid = b.column("qid")
            v, ok = _vector_matrix(b.column("vec"), dim)
            if queries is None:
                q, q_ok = _vector_matrix(b.column("qvec"), dim)
            else:
                pos = by_qid[np.searchsorted(sorted_qids, qid.to_numpy())]
                q, q_ok = qmat[pos], qok[pos]
            dist = pa.array(_l2_fold(q, v), mask=~(ok & q_ok))
            yield pa.RecordBatch.from_arrays(
                [qid, b.column("id"), dist], names=schema.fieldNames()
            )

    return pairs.mapInArrow(fold, schema)


def _arrow_scored_broadcast(
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobe: int,
    queries: tuple[np.ndarray, np.ndarray, np.ndarray],
    shipped: Broadcast,
    estimator: str,
    per_cluster_cut: int | None = None,
    with_probe_rank: bool = False,
    centroid_rows: list | None = None,
) -> DataFrame:
    """Small-batch Arrow scorer → (qid, id, est_dist, est_lb) candidates
    (+ ``probe_rank`` when ``with_probe_rank`` — the 1-based rank of the
    candidate's cluster in its query's probe order, for sweep reuse).

    ``queries`` is the batch as :func:`_driver_queries` converted it and
    ``shipped`` its Spark broadcast, the one copy of the query vectors a
    search sends (the exact rerank reads it too).  Probe selection runs
    driver-side in numpy, which only materializes the probe list, as
    the reference does (inc/index/IVF.hpp:303-304): the (query, probe)
    pairs grouped by cluster, one stable argsort, broadcast with the
    probed clusters' padded centroids and P.  Each task builds a probed
    cluster's rotated query residuals ``(qpad[q] − cpad[c]) @ P.T`` inside
    that cluster's scan, like ``HASearcher::search_cluster``
    (inc/index/HASearcher.hpp:82-113), and scores them with one BLAS
    matmul against the cluster's codes.  A batch whose residual rows
    would not fit the broadcast threshold goes to the cogroup scorer
    (:func:`_plan_search`).  Codes are LEFT-SEMI-joined with the
    probed-cluster ids (no row duplication) unless every centroid's
    cluster is probed.
    """
    spark = codes.sparkSession
    D = meta["D"]
    dim = meta["dim"]
    _, qmat, q_ok = queries
    if not q_ok.all():
        raise ValueError(
            f"rabitq_search: every query vector needs {dim} non-NULL coordinates"
        )
    # serving loops hit the same index every micro-batch: a pre-collected
    # centroid list (rabitq_search(centroid_rows=...)) skips one
    # collect per batch
    cent_rows = (centroid_rows if centroid_rows is not None
                 else centroids.select("cluster_id", "centroid").collect())
    cids = np.array([int(r[0]) for r in cent_rows])
    cmat = np.stack([np.array(r[1], dtype=np.float64) for r in cent_rows])  # K × dim
    order = _probe_order(qmat, cmat, cids, nprobe)  # W1, driver-side
    # group the (query, probe) pairs by cluster, queries ascending in each
    pairs = np.argsort(order.ravel(), kind="stable")
    probed, starts = np.unique(order.ravel()[pairs], return_index=True)
    qrow, rank = np.divmod(pairs, order.shape[1])
    cpad = np.zeros((len(probed), D))
    cpad[:, :dim] = cmat[probed]
    probe = spark.sparkContext.broadcast((
        cids[probed], np.append(starts, len(pairs)), qrow, rank + 1, cpad,
        rotation_matrix(D, meta["seed"]),
    ))
    cand = codes
    if len(probed) < len(cids):
        # partition pruning: only probed clusters' codes are read.  When
        # every cluster is probed nothing is left to prune, and the
        # semi-join would cost a broadcast job.  LocalRelation-backed
        # probed-key list (r11): the broadcast build reads in-plan rows,
        # no Python-RDD worker job (see localdf)
        keys_df = F.broadcast(
            local_rows_df(
                spark, [(int(c),) for c in sorted(cids[probed])], "cluster_id int"
            )
        )
        cand = codes.join(keys_df, on="cluster_id", how="leftsemi")

    total_bits = meta["total_bits"]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, Q, _ = shipped.value
        pcids, bounds, qrow, rank, cpad, P = probe.value
        qpad = np.zeros((len(Q), D))
        qpad[:, :dim] = Q
        seg = {c: s for s, c in enumerate(pcids.tolist())}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            S = _decode_s(pdf, total_bits)
            x2 = pdf["x2"].to_numpy()
            fip = pdf["f_ip_ex"].to_numpy()
            ferr = pdf["f_err"].to_numpy()
            ids = pdf["id"].to_numpy()
            outs = []
            for cid, idx in pdf.groupby("cluster_id", sort=False).indices.items():
                # without the semi-join, rows of an unprobed cluster (or of
                # a cluster_id with no centroid) reach here: no query scores them
                s = seg.get(int(cid))
                if s is None:
                    continue
                span = slice(bounds[s], bounds[s + 1])
                q = qrow[span]
                QR = (qpad[q] - cpad[s]) @ P.T  # g × D rotated residuals
                est, lb = _score_cluster_np(
                    S[idx], x2[idx], fip[idx], ferr[idx], QR,
                    (QR * QR).sum(axis=1), estimator, D,
                )
                outs.append(_scored_columns(
                    est, lb, qids[q], ids[idx],
                    rank[span] if with_probe_rank else None, per_cluster_cut,
                ))
            if outs:
                yield pd.DataFrame({c: np.concatenate([o[c] for o in outs]) for c in outs[0]})

    return cand.mapInPandas(
        score, _SCORED_SCHEMA_PR if with_probe_rank else _SCORED_SCHEMA
    )


def _fused_qprobe(
    queries: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobe: int,
    with_probe_rank: bool = False,
) -> tuple[DataFrame, bool]:
    """Query-side prep of the cogroup scorer fused into ONE Arrow pass →
    ((qid, cluster_id, qr ARRAY<DOUBLE> [, probe_rank]), full) —
    pad+rotate (P2), probe selection (W1) and the per-(query, cluster)
    rotated residual, map-only.

    ``full`` is ``nprobe ≥ K`` (K from the centroid rows collected
    here) unless probe ranks are asked for: every query then probes every
    cluster in cluster_id order and probe selection is skipped.

    Replaces, per evaluation of the qprobe subtree: the separate
    ``rotate_queries`` Python pass, the crossJoin→``row_number`` probe
    window (one hashpartitioning(qid) exchange), the probes⋈qrot join
    (a second qid exchange carrying the D-wide qrot arrays), and the
    broadcast centroid join.  The query side now reaches the cogroup's
    cluster_id exchange with ZERO shuffles.

    Bitwise contract (everything downstream is pinned by oracle hashes):

    - probe order: :func:`_probe_order`, the unrolled fold of
      ``knn.distance_col('l2', .., dim=meta['dim'])`` with ties to the
      lowest cluster_id, exactly like the ``row_number`` window it
      replaces;
    - qrot: the same zero-pad + ``Q @ P.T`` matmul ``rotate_queries``
      performs;
    - qr: the same elementwise float64 subtract against the same
      ``centroid_rot`` values (collected from the SAME side table the
      broadcast join read).
    """
    spark = queries.sparkSession
    dim, D = meta["dim"], meta["D"]
    P = rotation_matrix(D, meta["seed"])
    cent_rows = sorted(
        (int(r[0]), np.array(r[1], dtype=np.float64), np.array(r[2], dtype=np.float64))
        for r in centroids.select("cluster_id", "centroid", "centroid_rot").collect()
    )
    cids = np.array([c for c, _, _ in cent_rows], dtype=np.int64)
    cmat = np.stack([v for _, v, _ in cent_rows])      # K × dim (raw)
    crot = np.stack([v for _, _, v in cent_rows])      # K × D (rotated)
    bC = spark.sparkContext.broadcast((cids, cmat, crot, P))
    K = len(cent_rows)
    full = nprobe >= K and not with_probe_rank
    take = min(nprobe, K)
    # bound the emitted block: take rows per query × D doubles each
    qblk = max(64, 2_000_000 // max(take * D, 1))

    def prep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids_, cmat_, crot_, P_ = bC.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for s in range(0, len(pdf), qblk):
                blk = pdf.iloc[s : s + qblk]
                Qraw = np.array(blk["qvec"].tolist(), dtype=np.float64)  # g × dim
                g = Qraw.shape[0]
                Qpad = np.zeros((g, D))
                Qpad[:, :dim] = Qraw
                QR = Qpad @ P_.T  # ≡ rotate_queries
                if full:
                    sel = np.broadcast_to(np.arange(K), (g, K))
                else:
                    sel = _probe_order(Qraw, cmat_, cids_, take)
                qr = QR[:, None, :] - crot_[sel]  # g × take × D
                cols = {
                    "qid": np.repeat(blk["qid"].to_numpy(), take),
                    "cluster_id": cids_[sel].ravel().astype(np.int32),
                    "qr": list(qr.reshape(g * take, D)),
                }
                if with_probe_rank:  # 1-based probe order, like W1's window
                    cols["probe_rank"] = np.tile(
                        np.arange(1, take + 1, dtype=np.int64), g
                    )
                yield pd.DataFrame(cols)

    schema = "qid long, cluster_id int, qr array<double>"
    if with_probe_rank:
        schema += ", probe_rank long"
    return queries.select("qid", "qvec").mapInPandas(prep, schema), full


def _probe_residuals(
    queries: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    with_probe_rank: bool = False,
) -> DataFrame:
    """Declarative query prep for a probe DataFrame → (qid, cluster_id,
    qr [, probe_rank]): rotate the queries (P2), join them to their
    probes and subtract each probed cluster's rotated centroid."""
    qrot = rotate_queries(queries, meta)
    rank_cols = [F.col("probe_rank")] if with_probe_rank else []
    return (
        probes.select("qid", "cluster_id", *rank_cols)
        .join(qrot, on="qid")
        .join(F.broadcast(centroids.select("cluster_id", "centroid_rot")), on="cluster_id")
        .select(
            "qid",
            "cluster_id",
            F.expr("zip_with(qrot, centroid_rot, (a, b) -> a - b)").alias("qr"),
            *rank_cols,
        )
    )


def _arrow_scored_cogroup(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobe: int,
    estimator: str,
    probes: DataFrame | None = None,
    per_cluster_cut: int | None = None,
    with_probe_rank: bool = False,
) -> DataFrame:
    """Unbounded-batch Arrow scorer → (qid, id, est_dist, est_lb)
    (+ ``probe_rank`` when ``with_probe_rank`` — see the broadcast
    scorer; injected ``probes`` must then carry a probe_rank column).

    NO driver collect of the query side: probe selection (W1) and
    per-(query, cluster) rotated residuals run as DataFrames (the same
    stage-1 the SQL scorer uses), then codes and query-residuals are
    COGROUPED on cluster_id — each task receives (codes of one cluster,
    queries probing that cluster) and runs the identical BLAS kernel as
    the broadcast scorer.  Scales in BOTH N and NQ: the only per-task
    state is one cluster's codes and its probing queries, and the
    100k-query broadcast dict (~25 GB at D=1536, nprobe=20) never
    exists.

    Full probes (nprobe ≥ K, e.g. the lossless ANN self-join dedup;
    decided in :func:`_fused_qprobe`): probe selection degenerates to
    "every query probes every cluster", so the probe sort and the
    distinct-probed-keys semi-join on the codes both drop out of the
    plan — nothing is left to prune.

    Cost vs the broadcast scorer: the probed codes shuffle once for the
    cogroup (the broadcast path reads them in place).  A hot cluster's
    matmul is chunked internally so memory stays bounded (skew shows up
    as task time, exactly like the reference's per-cluster OpenMP loop).
    """
    D = meta["D"]
    if with_probe_rank and probes is not None and "probe_rank" not in probes.columns:
        raise ValueError("with_probe_rank: injected probes lack a probe_rank column")
    if probes is None:
        # W1 exact probes: fused map-only prep (rotate + probe + residual
        # in one Arrow pass, zero query-side shuffles — see _fused_qprobe;
        # bitwise-identical to the rotate/window/join chain it replaced)
        qprobe, full = _fused_qprobe(
            queries, centroids, meta, nprobe, with_probe_rank=with_probe_rank
        )
    else:
        qprobe, full = _probe_residuals(
            queries, probes, centroids, meta, with_probe_rank
        ), False
    cand = codes
    if not full:
        # partition pruning: only probed clusters' codes are read.  At
        # full probes nothing is left to prune, and skipping the
        # semi-join saves a second evaluation of the qprobe subtree plus
        # a distinct + broadcast build.
        keys = qprobe.select("cluster_id").distinct()
        cand = codes.join(F.broadcast(keys), on="cluster_id", how="leftsemi")

    total_bits = meta["total_bits"]
    schema = _SCORED_SCHEMA_PR if with_probe_rank else _SCORED_SCHEMA
    empty = {
        name: pd.Series(dtype="int64" if kind == "long" else "float64")
        for name, kind in (col.split() for col in schema.split(", "))
    }

    def score(key, code_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(code_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(empty)
        QR = np.array(q_pdf["qr"].tolist(), dtype=np.float64)  # g × D
        y2 = (QR * QR).sum(axis=1)
        qg = q_pdf["qid"].to_numpy()
        pr = q_pdf["probe_rank"].to_numpy() if with_probe_rank else None
        S = _decode_s(code_pdf, total_bits)
        x2 = code_pdf["x2"].to_numpy()
        fip = code_pdf["f_ip_ex"].to_numpy()
        ferr = code_pdf["f_err"].to_numpy()
        ids = code_pdf["id"].to_numpy()
        # chunk the code side so est/lb temporaries stay ≤ ~32 MB even for
        # a hot cluster × huge query batch (memory, not correctness)
        chunk = max(1, 4_000_000 // max(len(qg), 1))
        outs = []
        for i in range(0, len(ids), chunk):
            est, lb = _score_cluster_np(
                S[i : i + chunk], x2[i : i + chunk], fip[i : i + chunk],
                ferr[i : i + chunk], QR, y2, estimator, D,
            )
            outs.append(pd.DataFrame(_scored_columns(
                est, lb, qg, ids[i : i + chunk], pr, per_cluster_cut
            )))
        return pd.concat(outs, ignore_index=True)

    return (
        cand.groupby("cluster_id")
        .cogroup(qprobe.groupby("cluster_id"))
        .applyInPandas(score, schema)
    )


def _threshold_marked(scored: DataFrame, k: int) -> DataFrame:
    """Tag each scored candidate with the adaptive distk-analog verdict:
    ``_keep`` ⇔ est_lb ≤ the k-th smallest est_dist of its query (the
    batch form of the reference's sequential running-threshold prune,
    inc/index/Searcher.hpp:217-233 / Pool.hpp:28-31).  Both windows
    share one hashpartitioning(qid) exchange.  Shared by the search
    path (:func:`_threshold_shortlist`) and the attestation stats
    (:func:`rabitq_threshold_stats`) so the two can never drift."""
    # knn.topk's order, so the final top-k reuses this window's sort
    w_est = Window.partitionBy("qid").orderBy(
        F.col("est_dist").asc_nulls_last(), F.col("id").asc()
    )
    w_q = Window.partitionBy("qid")
    return (
        scored.withColumn("_re", F.row_number().over(w_est))
        .withColumn(
            "_distk",
            F.max(F.when(F.col("_re") <= k, F.col("est_dist"))).over(w_q),
        )
        .withColumn("_keep", F.col("est_lb") <= F.col("_distk"))
    )


def _threshold_shortlist(scored: DataFrame, k: int) -> DataFrame:
    """E2 adaptive threshold cut: survivors of :func:`_threshold_marked`.
    At least k candidates always survive (the k est-smallest each have
    est_lb ≤ est_dist ≤ dist_k); queries with < k candidates keep all."""
    return (
        _threshold_marked(scored, k)
        .where(F.col("_keep"))
        .drop("_re", "_distk", "_keep")
    )


def _finalize_topk(
    scored: DataFrame,
    queries: DataFrame,
    k: int,
    refine: int | None,
    rerank_base: DataFrame | None,
    dim: int,
    refine_mode: str = "rank",
    rerank_queries: Broadcast | None = None,
) -> DataFrame:
    """Shared phase-2 on canonical (qid, qvec) queries: E2 cut →
    optional exact re-rank (E4) → final top-k (W3) → (qid, rank, id,
    est_dist).

    ``refine_mode='rank'`` (default) keeps the γ·k best error-bound
    lower bounds per query — a superset of the reference's sequential
    distk threshold at γ≥1.  ``refine_mode='threshold'`` is the CLOSEST
    batch analog of that threshold itself
    (inc/index/Searcher.hpp:217-233: prune candidates whose lower bound
    can't beat the running k-th best): keep candidates with est_lb ≤
    the k-th smallest B-bit estimate of their query — adaptive per
    query (easy queries keep barely k, boundary queries keep more),
    no γ to tune.  At least k candidates always survive (the k
    est-smallest each have est_lb ≤ est_dist ≤ dist_k); queries with
    < k candidates keep everything.  Both windows share one
    hashpartitioning(qid) exchange.

    With ``rerank_base`` (id, vec) the shortlist's exact squared L2 over
    the first ``dim`` coordinates replaces est_dist, computed by
    :func:`_exact_rerank` in the task that holds the base vector — the
    exchange into the top-k window carries (qid, id, est_dist), never a
    vector.  The planner's rerank route decides where the query vectors
    come from:

    - broadcast (``rerank_queries``, a Spark broadcast of the driver
      query matrix): the (qid, id) shortlist broadcasts into the base
      scan, which is read in place — serving-sized batches;
    - shuffle (``rerank_queries`` None): the queries=corpus route (the
      ANN SELF-join, where the query side IS the corpus and no side
      fits a broadcast): base⋈shortlist on id, then ⋈queries on qid,
      both plain equi-joins.

    Same rows, same values; routes are result-identical (asserted in
    tests)."""
    if refine_mode not in ("rank", "threshold"):
        raise ValueError(
            f"refine_mode must be 'rank' or 'threshold', got {refine_mode!r}"
        )
    # SQL text: each selectExpr/where is one py4j call, where the Column
    # API makes one per name, sort order and window spec
    cut = refine_mode == "rank" and refine is not None
    if refine_mode == "threshold":
        shortlist = _threshold_shortlist(scored, k)
    elif cut:
        # under a rerank the cut keeps only the (qid, id) the rerank reads
        # (its _r rides along unread); otherwise the final projection drops _r
        shortlist = scored.selectExpr(
            *(("*",) if rerank_base is None else ("qid", "id")),
            "row_number() OVER (PARTITION BY qid ORDER BY est_lb, id) AS _r",
        ).where(f"_r <= {int(refine * k)}")
    else:
        shortlist = scored
    if rerank_base is not None:
        keys = shortlist if cut else shortlist.select("qid", "id")
        pairs = rerank_base.select("id", "vec")
        if rerank_queries is None:
            pairs = pairs.join(keys, on="id").join(
                queries.select("qid", "qvec"), on="qid"
            )
        else:
            pairs = pairs.join(F.broadcast(keys), on="id")
        shortlist = _exact_rerank(pairs, dim, rerank_queries)
    return topk(shortlist, k, by="est_dist")


def _sql_scored(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobe: int,
    estimator: str,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Pure-JVM candidate scorer → (qid, id, est_dist, est_lb) — the
    declarative reference the Arrow scorers are tested against; no
    search entry point routes to it.

    Stage 0: probe selection (W1) on raw centroids — exact top-nprobe.
    Stage 1: per (query, probed cluster): rotated residual qr, y2, Σqr —
        the per-cluster query prep of HASearcher::search_cluster
        (inc/index/HASearcher.hpp:82-113), as a tiny nprobe×NQ DataFrame.
    Stage 2: candidate equi-join on cluster_id (partition-pruned on a
        saved index) + codegen'd estimate columns — no Python on the
        candidate hot path.
    """
    M = 1 << (meta["total_bits"] - 1)
    D = meta["D"]
    if probes is None:  # W1 exact; callers may inject graph_probes (W2)
        probes = select_probes(
            queries, centroids.select("cluster_id", "centroid"), nprobe,
            dim=int(meta["dim"]),
        )
    # Stage 1: per-(qid, cluster) rotated residual + moments
    qprobe = _probe_residuals(queries, probes, centroids, meta).select(
        "qid",
        "cluster_id",
        "qr",
        F.expr(V.l2sq_self("qr")).alias("y2"),
        F.expr(V.vec_sum("qr")).alias("sum_qr"),
    )
    cand = codes.join(qprobe, on="cluster_id", how="inner")
    # ⟨s, qr⟩ = Σ (code+0.5−M)·qr.  The C++ decomposes this into a bit-IP
    # plus Σqr terms to fit the integer LUT domain
    # (inc/index/Searcher.hpp:222-233); in codegen we evaluate it directly —
    # same associative sum, no 8-bit budget games (SURVEY Q5/Q6).
    ip_s_qr = (
        f"aggregate(zip_with(code, qr, (c, v) -> (CAST(c AS DOUBLE) + 0.5 - {M}.0) * v), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cand = cand.withColumn("ip_s_qr", F.expr(ip_s_qr))
    est = F.col("x2") + F.col("y2") - F.col("f_ip_ex") * F.col("ip_s_qr")
    if estimator == "high_acc":
        # HA phase-1 bound: sign bits only, fixed X0=0.8 + const bound
        # (see _score_cluster_np; same algebra as FastScan.hpp:295-357)
        ip_b = (
            f"aggregate(zip_with(code, qr, (c, v) -> "
            f"CASE WHEN c >= {M} THEN v ELSE CAST(0.0 AS DOUBLE) END), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        lb = (
            F.col("x2")
            + F.col("y2")
            - (5.0 / math.sqrt(D))
            * F.sqrt("x2")
            * (F.expr(ip_b) - 0.5 * F.col("sum_qr") + _HA_CONST_BOUND * F.sqrt("y2"))
        )
    else:
        lb = est - F.col("f_err") * F.sqrt("y2")
    return cand.select(
        "qid", "id", est.alias("est_dist"), lb.alias("est_lb")
    )


def _prepare_search_inputs(
    queries: DataFrame,
    rerank_base: DataFrame | None,
    meta: dict,
    query_rows: list | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Shared search-entry prep (every search entry point — one
    definition so their row-identical contracts can't drift): apply
    the metric-aware query transform (cosine: unit-sphere L2 ≡ cosine
    ranking, dist = 2·(1−cos); ip: MIPS augmentation ‖q'−x'‖² = ‖q‖² +
    M² − 2⟨q,x⟩ — both monotone, tie-preserving), and move the rerank
    base into the same geometry.  Driver-resident ``query_rows`` bypass
    the query transform, so they need an L2-metric index."""
    if query_rows is not None and meta.get("metric") not in (None, "l2"):
        raise ValueError(
            "query_rows requires an L2-metric index "
            f"(this index: {meta.get('metric')!r}) — the cosine/ip "
            "query transforms would be bypassed on the raw rows"
        )
    queries = prepare_queries_for_metric(queries, meta)
    if rerank_base is not None:
        if meta.get("metric") == "cosine":
            rerank_base = rerank_base.withColumn(
                "vec", F.expr(V.l2_normalize("vec"))
            )
        elif meta.get("metric") == "ip":
            rerank_base = rerank_base.withColumn(
                "vec", F.expr(_mips_aug_expr("vec", float(meta["mips_norm"])))
            )
    return queries, rerank_base


class _SearchPlan(NamedTuple):
    """The physical routes of one search (see :func:`_plan_search`)."""

    broadcast_scorer: bool  # False: the cogroup scorer
    broadcast_rerank: bool  # False: the shuffle equi-join rerank


def _plan_search(
    nq: int | Callable[[], int],
    nprobe: int,
    meta: dict,
    shortlist: int | None,
    threshold: int,
    probes_injected: bool = False,
) -> _SearchPlan:
    """Choose every route of a RaBitQ search from sizes alone.

    ``nq`` is the query count, or a callable that counts them
    (:func:`_row_count`), called at most once and only when a rule reads
    it;
    ``shortlist`` is the rerank rows per query (``refine·k``; k, its
    floor, without a rank cut; None without an exact rerank);
    ``threshold`` is T =
    ``spark.sql.autoBroadcastJoinThreshold`` (negative: never
    broadcast).  D and dim come from ``meta``.

    - scorer: the cogroup scorer when ``probes`` are injected (its
      probe prep is DataFrame-native); otherwise the broadcast scorer
      iff the rotated residual rows it builds, one per (query, probe)
      pair across its tasks, fit: nq·nprobe·(8·D + 24) ≤ T.
    - rerank: broadcast iff the (qid, id) shortlist plus the query
      vectors fit: nq·(8·dim + 16·shortlist) ≤ T; else the shuffle
      equi-joins (see :func:`_finalize_topk`).
    - full probes (nprobe ≥ K, probe selection and the codes semi-join
      skipped) are decided inside the cogroup scorer, which is where K
      is known (:func:`_fused_qprobe`).
    """
    size = functools.cache(nq) if callable(nq) else lambda: nq

    def fits(bytes_per_query: int) -> bool:
        return threshold >= 0 and size() * bytes_per_query <= threshold

    return _SearchPlan(
        not probes_injected and fits(nprobe * (8 * meta["D"] + 24)),
        shortlist is not None and fits(8 * meta["dim"] + 16 * shortlist),
    )


def _row_count(df: DataFrame) -> int:
    """Rows of ``df``: the row count in its optimized plan's statistics
    when Spark has one, else one count() job.  Spark's count is exact
    for a materialized cached batch or a local relation; under a limit
    it is an upper bound, and catalog statistics can be stale.  The
    count only routes a plan, and routes are row-identical, so a wrong
    statistic costs speed, never rows — the trade Spark's own broadcast
    planning makes."""
    known = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    return int(known.get()) if known.isDefined() else df.count()


def _scored_candidates(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobe: int,
    estimator: str,
    shortlist: int | None = None,
    probes: DataFrame | None = None,
    per_cluster_cut: int | None = None,
    with_probe_rank: bool = False,
    centroid_rows: list | None = None,
    query_rows: list | None = None,
) -> tuple[DataFrame, Broadcast | None]:
    """Phase 1 of every search entry point, on canonical (qid, qvec)
    queries: plan the routes (:func:`_plan_search`; nq is
    ``len(query_rows)``, else Spark's exact row count when the plan has
    one, else one count() job — see :func:`_row_count`) and score on the
    planned scorer → ((qid, id, est_dist, est_lb [, probe_rank]),
    rerank_queries).

    A broadcast route collects the batch once — ``query_rows`` when
    given, else one ``toArrow`` job — and makes the search's one Spark
    broadcast of it (:func:`_driver_queries`), which the broadcast
    scorer and the exact rerank both read: ``rerank_queries`` is that
    broadcast when the plan broadcasts the rerank, else None.
    ``centroid_rows`` only feeds the broadcast scorer; the cogroup
    scorer ignores it and ``query_rows``, and gives raw (cluster_id,
    centroid) centroids their rotated column first
    (:func:`centroids_with_rotation`)."""
    spark = queries.sparkSession
    # T in bytes, as Spark's own join planner reads the setting
    conf = spark._jsparkSession.sessionState().conf()
    plan = _plan_search(
        len(query_rows) if query_rows is not None
        else functools.partial(_row_count, queries),
        nprobe, meta, shortlist, int(conf.autoBroadcastJoinThreshold()),
        probes_injected=probes is not None,
    )
    shipped = None
    if plan.broadcast_scorer or plan.broadcast_rerank:
        q = _driver_queries(
            query_rows if query_rows is not None
            else queries.select("qid", "qvec").toArrow(),
            int(meta["dim"]),
        )
        shipped = spark.sparkContext.broadcast(q)
    if plan.broadcast_scorer:
        scored = _arrow_scored_broadcast(
            codes, centroids, meta, nprobe, q, shipped, estimator,
            per_cluster_cut=per_cluster_cut,
            with_probe_rank=with_probe_rank,
            centroid_rows=centroid_rows,
        )
    else:
        if "centroid_rot" not in centroids.columns:
            centroids = centroids_with_rotation(spark, centroids, meta)
        scored = _arrow_scored_cogroup(
            queries, codes, centroids, meta, nprobe, estimator,
            probes, per_cluster_cut=per_cluster_cut,
            with_probe_rank=with_probe_rank,
        )
    return scored, (shipped if plan.broadcast_rerank else None)


def rabitq_search(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobe: int,
    k: int,
    refine: int | None = 4,
    rerank_base: DataFrame | None = None,
    estimator: str = "searcher",
    probes: DataFrame | None = None,
    centroid_rows: list | None = None,
    refine_mode: str = "rank",
    query_rows: list | None = None,
) -> DataFrame:
    """Full two-phase Extended-RaBitQ search → (qid, rank, id, est_dist).

    Phase 1 scores the candidates of the ``nprobe`` nearest clusters
    (or of the injected ``probes``, e.g. graph_probes — W2).  Phase 2
    keeps the ``refine``·k best est_lb per query (E2 as a rank cut — a
    superset of the reference's sequential distk threshold at
    refine≥1, §4.2.2), then ranks by the B-bit estimate (E3) — or by
    the EXACT distance when ``rerank_base`` (id, vec) is given (E4; the
    base scan stays in place).  ``refine=None`` disables the cut:
    single-phase exact-over-candidates ranking (a superset of the
    two-phase result).  ``refine_mode='threshold'`` replaces the rank
    cut by the adaptive distk analog (see :func:`_finalize_topk`).

    ``estimator='searcher'`` is the default Searcher estimator;
    ``'high_acc'`` is the published exhaf4 configuration's HASearcher
    phase-1 bound (HIGH_ACC compiled in, src/test_search.cpp:1) — the
    re-rank estimate is algebraically identical (see _score_cluster_np).

    Routes are not caller choices: :func:`_plan_search` picks them from
    the batch size and ``spark.sql.autoBroadcastJoinThreshold`` (T), and
    every route returns the same rows (asserted in tests):

    - the broadcast Arrow scorer iff nq·nprobe·(8·D + 24) ≤ T and no
      ``probes`` are injected: the driver picks the probes (the
      reference's own move) and ships them with the query matrix, and
      each task builds its clusters' query residuals; else the cogroup
      Arrow scorer (no driver collect of the query side — unbounded
      NQ), which also takes raw (cluster_id, centroid) centroids;
    - the cogroup scorer skips probe selection and the codes semi-join
      when nprobe ≥ K, the broadcast scorer the semi-join when the batch
      probes every cluster;
    - the exact rerank broadcasts the shortlist into the base scan and
      reads the query vectors from the search's one query broadcast iff
      nq·(8·dim + 16·refine·k) ≤ T; else plain equi-joins.  Either way
      the distance is computed map-side and the top-k exchange carries
      distances, not vectors.

    nq is ``len(query_rows)`` when given, else Spark's exact row count
    when the plan has one (a materialized cached batch), else one
    count() job, paid only when a rule needs it.  A broadcast route
    collects the queries once (one job) unless ``query_rows`` holds
    them, and ships them once.

    ``centroid_rows`` / ``query_rows``: driver-resident
    ``centroids.select("cluster_id", "centroid").collect()`` and (qid,
    qvec) pairs for the broadcast routes — serving loops that hold them
    already skip a collect job each (a no-rerank serving call is then
    exactly ONE Spark job).  ``query_rows`` must mirror ``queries``
    (still used by the cogroup scorer and the shuffle rerank) and needs
    an L2-metric index; ``centroid_rows`` is unused when the plan picks
    the cogroup scorer.
    """
    queries, rerank_base = _prepare_search_inputs(
        queries, rerank_base, meta, query_rows
    )
    if refine_mode == "threshold":
        # the adaptive distk threshold is defined over the FULL candidate
        # pool — disable the per-cluster pre-cut so the k-th estimate and
        # the lb filter see every probed candidate
        refine = None
    scored, rerank_queries = _scored_candidates(
        queries, codes, centroids, meta, nprobe, estimator,
        shortlist=None if rerank_base is None else (refine or 1) * k,
        probes=probes, per_cluster_cut=None if refine is None else refine * k,
        centroid_rows=centroid_rows, query_rows=query_rows,
    )
    return _finalize_topk(
        scored, queries, k, refine, rerank_base,
        dim=int(meta["dim"]),  # ip: meta dim is already the augmented width
        refine_mode=refine_mode, rerank_queries=rerank_queries,
    )


def rabitq_threshold_stats(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobe: int,
    k: int,
    estimator: str = "searcher",
) -> DataFrame:
    """Adaptive-prune activity attestation → (qid, n_pool, n_kept):
    per query, the scored candidate pool size and the survivors of the
    distk-analog threshold cut (refine_mode='threshold').

    ``n_kept < n_pool`` certifies the cut is ACTIVE — the prune
    genuinely discards candidates — while the no-rerank equivalence
    theorem (tests/test_rabitq.py) guarantees the final top-k is
    bitwise unchanged; ``n_kept ≥ min(k, n_pool)`` always (the k
    est-smallest survive by construction).  Integer-exact and
    hash-stable: every (est_dist, est_lb) is an independent fixed
    float expression of the pinned-seed build, so the comparison
    outcomes are reproducible (same argument as rabitq_recall_counts).
    One pass over the pool — the marking windows and the counts share
    a single hashpartitioning(qid) exchange, no persist needed."""
    queries = _prepare_search_inputs(queries, None, meta)[0]
    scored, _ = _scored_candidates(queries, codes, centroids, meta, nprobe, estimator)
    return _threshold_marked(scored, k).groupBy("qid").agg(
        F.count("*").cast("long").alias("n_pool"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
    )


def rabitq_search_sweep(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    nprobes: list[int],
    k: int,
    refine: int | None = 4,
    rerank_base: DataFrame | None = None,
    estimator: str = "searcher",
    refine_mode: str = "rank",
    centroid_rows: list | None = None,
    query_rows: list | None = None,
) -> tuple[dict[int, DataFrame], DataFrame]:
    """Amortized nprobe sweep →
    ``({nprobe: (qid, rank, id, est_dist)}, scored_pool)``.

    A naive sweep re-runs the whole search per grid point, paying the
    candidate scoring (the dominant cost) G times; the reference
    amortizes its sweep inside one process for the same reason
    (src/test_search.cpp:97-134 loops nprobe over one loaded index).
    Here the candidate pool is scored ONCE at max(nprobes) with each
    row tagged by its (query, cluster) ``probe_rank``; every grid point
    is then a cheap ``probe_rank <= np`` filter + phase-2 finalize over
    the persisted pool.

    Equivalence to per-point :func:`rabitq_search` (asserted in tests):
    a candidate's per-cluster pre-cut survival and its (est, lb) values
    are independent of WHICH probe set includes the cluster, and the
    phase-2 rank cut / top-k re-runs per grid point over exactly the
    rows whose probe rank clears that point — so each returned frame is
    row-identical to the standalone search at that nprobe.

    The pool (second return value) is ``.persist()``-ed; callers that
    keep the session hot should ``unpersist`` it once every grid point
    is materialized.
    """
    if not nprobes:
        raise ValueError("rabitq_search_sweep: empty nprobe grid")
    queries, rerank_base = _prepare_search_inputs(
        queries, rerank_base, meta, query_rows
    )
    np_max = max(nprobes)
    if refine_mode == "threshold":
        refine = None  # see rabitq_search: threshold is pool-wide
    scored, rerank_queries = _scored_candidates(
        queries, codes, centroids, meta, np_max, estimator,
        shortlist=None if rerank_base is None else (refine or 1) * k,
        per_cluster_cut=None if refine is None else refine * k,
        with_probe_rank=True, centroid_rows=centroid_rows, query_rows=query_rows,
    )
    scored = scored.persist()
    out: dict[int, DataFrame] = {}
    for np_ in sorted(set(int(n) for n in nprobes)):
        pool = scored.where(F.col("probe_rank") <= np_).drop("probe_rank")
        out[np_] = _finalize_topk(
            pool, queries, k, refine, rerank_base,
            dim=int(meta["dim"]),  # ip: meta dim is already the augmented width
            refine_mode=refine_mode, rerank_queries=rerank_queries,
        )
    return out, scored


def rabitq_range_search(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    meta: dict,
    radius2: float,
    nprobe: int,
    rerank_base: DataFrame,
    estimator: str = "searcher",
    probes: DataFrame | None = None,
    slack: float = 3.0,
) -> DataFrame:
    """Accelerated range query → (qid, id, dist): candidates whose
    WIDENED error-bound lower bound clears the radius are cut (E2's
    analog with an absolute threshold instead of a rank — the same
    shape as the reference's sequential distk pruning), survivors
    verify with the EXACT distance against ``rerank_base``.

    The cut keeps candidates with ``est − slack·err ≤ radius2`` where
    ``err = f_err·√y2`` is the one-unit error bound (A3).  The bound is
    probabilistic, not sound — at slack=1 a few true members land
    outside it (measured on the smoke fixture) — so the default widens
    to 3 error units; fixture equality with the exact form at full
    probes is asserted in tests at that setting.  A true result can
    still be missed if (a) its cluster is not probed (full probes ⟹
    none) or (b) its estimate is > slack error units high (tail event).
    The exact verify joins the broadcast candidate set, so the
    raw-vector table never shuffles.

    Metrics: an 'l2' index takes raw vectors; a 'cosine' index
    normalizes the query side and the verify vectors here (radius2 is
    then squared L2 on the unit sphere, i.e. 2·(1−cos) — a cosine
    radius).  A 'ip' index is rejected: the MIPS reduction carries a
    per-query ‖q‖² offset, so one radius2 across queries has no
    inner-product meaning — express IP range queries as per-query
    thresholds on knn_ip instead."""
    from .knn import distance_col

    if meta.get("metric", "l2") == "ip":
        raise ValueError(
            "rabitq_range_search: metric='ip' indexes have no global "
            "radius semantics (per-query MIPS offset); use top-k search"
        )
    queries, rerank_base = _prepare_search_inputs(queries, rerank_base, meta)
    scored, _ = _scored_candidates(
        queries, codes, centroids, meta, nprobe, estimator, probes=probes
    )
    widened = F.col("est_dist") - slack * (F.col("est_dist") - F.col("est_lb"))
    cand = scored.where(widened <= radius2).select("qid", "id")
    return (
        rerank_base.join(F.broadcast(cand), on="id")
        .join(F.broadcast(queries.select("qid", "qvec")), on="qid")
        .select(F.col("qid"), F.col("id"),
                distance_col("l2", "qvec", "vec").alias("dist"))
        .where(F.col("dist") <= radius2)
    )

"""Product quantization (PQ) codec + ADC search (beyond-reference).

The OTHER major ANN quantization family next to the reference's RaBitQ
(FAISS ``IndexPQ`` / Jégou et al. 2011): split each D-dim vector into
``m`` contiguous subspaces of ``D/m`` dims, quantize every subvector to
its nearest per-subspace codeword, store only the ``m`` small codes
(``m·log2(ksub)`` bits/vector vs ``32·D``), and search by asymmetric
distance (ADC): the query stays exact, the base side is reconstructed
from codewords.

Spark-first shapes:

- **Encode** is the per-subspace argmin join: subvectors exploded in ONE
  generator projection, codebooks broadcast, a (id, sub_id) rank window
  picks the nearest codeword (ties → smaller code).  Cost is the
  standard ``N·m·ksub`` distance evaluations, all inside codegen.
- **Decode** reassembles the codeword approximation by folding the ``m``
  codewords back in subspace order (``array_sort`` on (sub_id, ·) then
  ``flatten``) — deterministic element order, so distances over decoded
  vectors fold bitwise like every other kernel.
- **ADC distance** = one ``l2sq(qvec, decoded)`` — mathematically equal
  to the per-subspace LUT sum (the FAISS formulation) but expressed as
  the SAME left-to-right fold the DuckDB oracle replicates, avoiding a
  cross-engine float-sum-order hazard a SUM-over-subspaces would have.
- **Search** is estimate → overfetch → exact re-rank on the broadcast
  shortlist (the E1→E3 pipeline shape shared with ``knn_int8_rerank``).

Codebooks: :func:`train_pq_codebooks` runs seeded per-subspace Lloyd's
(the production path, pytest-verified); the registered query uses
label-mean codebooks (`ivf.label_centroids` sliced per subspace) — the
same deterministic stand-in the IVF oracles use, which makes the whole
PQ pipeline expressible as a bitwise DuckDB oracle.

At 100 TB: codes are 64× smaller than fp32 vectors (m=4, ksub≤256 over
D=64), so the estimate scan reads ~1.5% of the bytes; encode is one
broadcast join + rank window per shard (embarrassingly parallel, no
shuffle of vector payloads); the fp32 column is touched only by the
rank-bounded rerank shortlist join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..staging import stage_eager as _stage_eager, stage_lazy as _stage_lazy

from ..functions import vector as V
from .knn import rerank_exact, topk


def _require_width(df: DataFrame, vec: str, dim: int, ctx: str) -> DataFrame:
    """In-plan width guard (ADVICE r10, medium): the PQ subspace split
    must cover the whole vector — ``m * dsub == size(vec)``.  A wider
    vector would silently truncate every dim-specialized distance and
    every subspace slice downstream (the "exact"-looking ADC estimates
    would quietly ignore the tail).  The CASE is NULL on valid rows, so
    the filter keeps every row (results and hashes unchanged for valid
    data) and THROWS on the first bad one, naming its defect: a NULL
    vector or a wrong width; cost is one O(1) ``size()`` per row, no
    shuffle, no extra pass."""
    return df.where(
        F.expr(
            f"CASE WHEN {vec} IS NULL THEN raise_error('{ctx}: vector NULL') "
            f"WHEN size({vec}) != {dim} THEN "
            f"raise_error('{ctx}: vector width != m*dsub = {dim}') END IS NULL"
        )
    )


def _sub_explode(df: DataFrame, vec: str, m: int, dsub: int, out: str) -> DataFrame:
    """Explode a vector column into (…, sub_id INT, <out> ARRAY) — one
    generator projection, slices taken from the materialized column."""
    return df.withColumn(
        "_sub",
        F.expr(
            f"explode(transform(sequence(0, {m - 1}), "
            f"j -> struct(CAST(j AS INT) AS sub_id, "
            f"slice({vec}, j * {dsub} + 1, {dsub}) AS sv)))"
        ),
    ).select(*[c for c in df.columns], F.col("_sub.sub_id").alias("sub_id"), F.col("_sub.sv").alias(out))


def subspace_codebooks(centroids: DataFrame, m: int, dsub: int) -> DataFrame:
    """Slice full-D centroids → (sub_id INT, code INT, cw ARRAY<DOUBLE>).

    Any (cluster_id, centroid) frame works: label means (the oracle
    twin) or k-means output (production)."""
    return _sub_explode(
        centroids.select(F.col("cluster_id").alias("code"), "centroid"),
        "centroid", m, dsub, "cw",
    ).select("sub_id", "code", "cw")


def encode_subs(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """The PQ encode core, shared by every encoder here: nearest codeword
    per (id, sub_id), ties → smaller code.  ``subs`` is the exploded
    (id, sub_id, sv) form; codebooks broadcast; map-side until the
    per-(id, sub_id) rank window."""
    w = Window.partitionBy("id", "sub_id").orderBy(
        F.col("sdist").asc(), F.col("code").asc()
    )
    # rank projected with the distance in two fused passes instead of
    # the double-withColumn chain (r11): one fewer eager plan analysis
    return (
        subs.join(F.broadcast(codebooks), "sub_id")
        .select("id", "sub_id", "code", F.expr(V.l2sq("sv", "cw")).alias("sdist"))
        .select("id", "sub_id", "code", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select("id", "sub_id", "code")
    )


def pq_encode(base: DataFrame, codebooks: DataFrame, m: int, dsub: int) -> DataFrame:
    """Encode → (id, sub_id, code): explode + :func:`encode_subs`."""
    subs = _sub_explode(base.select("id", "vec"), "vec", m, dsub, "sv").select(
        "id", "sub_id", "sv"
    )
    return encode_subs(subs, codebooks)


def pq_decode(codes: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Reconstruct → (id, dvec ARRAY<DOUBLE>): codewords joined back and
    reassembled in subspace order (deterministic element order)."""
    return (
        codes.join(F.broadcast(codebooks), ["sub_id", "code"])
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "cw"))).alias("scw"))
        .select("id", F.expr("flatten(transform(scw, x -> x.cw))").alias("dvec"))
    )


def pq_adc_knn(
    queries: DataFrame,
    base: DataFrame,
    codebooks: DataFrame,
    m: int,
    dsub: int,
    coarse_k: int = 50,
    k: int = 10,
) -> DataFrame:
    """PQ-ADC search → (qid, rank, id, dist): estimate on decoded
    codewords, exact fp32 re-rank on the broadcast shortlist."""
    dim = m * dsub  # the PQ subspace split covers the whole vector
    base = _require_width(base, "vec", dim, "pq_adc_knn")
    queries = _require_width(queries, "qvec", dim, "pq_adc_knn")
    decoded = pq_decode(pq_encode(base, codebooks, m, dsub), codebooks)
    cand = decoded.crossJoin(F.broadcast(queries)).select(
        "qid", "id", F.expr(V.l2sq("qvec", "dvec", dim)).alias("dist_q")
    )
    return rerank_exact(topk(cand, coarse_k, by="dist_q"), queries, base, k)


def residual_octant_codebooks(res_subs: DataFrame) -> DataFrame:
    """Deterministic residual codebooks: per-subspace OCTANT means.

    Each residual subvector is bucketed by the 3-bit sign pattern of its
    first three dims (8 buckets/subspace); the codeword is the bucket's
    per-dim mean, rounded to 6 decimals — the ``label_centroids``
    cross-engine-exactness trick, so a DuckDB oracle reproduces the
    codebook (and every distance derived from it) bitwise.  A sensible
    quantizer in its own right (sign quantization refined by conditional
    means — the B=1→B>1 refinement idea of the reference, expressed as
    one aggregation); production IVF-PQ instead trains per-subspace
    Lloyd's on residuals via :func:`train_pq_codebooks`.

    res_subs: (id, sub_id, sv ARRAY<DOUBLE>), dsub ≥ 3.
    → (sub_id INT, code INT, cw ARRAY<DOUBLE>).
    """
    keyed = res_subs.withColumn(
        "code",
        F.expr(
            "CAST((CASE WHEN element_at(sv, 1) > 0 THEN 4 ELSE 0 END) + "
            "(CASE WHEN element_at(sv, 2) > 0 THEN 2 ELSE 0 END) + "
            "(CASE WHEN element_at(sv, 3) > 0 THEN 1 ELSE 0 END) AS INT)"
        ),
    )
    per_dim = (
        keyed.select("sub_id", "code", F.posexplode("sv").alias("pos", "val"))
        .groupBy("sub_id", "code", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )
    return (
        per_dim.groupBy("sub_id", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("sub_id", "code", F.expr("transform(pc, x -> x.c)").alias("cw"))
    )


def ivfpq_knn(
    queries: DataFrame,
    base: DataFrame,
    centroids: DataFrame,
    m: int,
    dsub: int,
    nprobe: int = 3,
    coarse_k: int = 50,
    k: int = 10,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search (the FAISS ``IndexIVFPQ`` family, the closest classic
    relative of the reference's IVF+RaBitQ design) → (qid, rank, id, dist).

    Index side: assign each base vector to its nearest centroid (argmin
    join), PQ-encode the RESIDUAL ``vec − centroid`` per subspace.
    Query side: probe the top-``nprobe`` centroids (W1), reconstruct
    candidates in probed clusters only as ``centroid + decode(residual
    codes)``, rank by the ADC estimate, exact fp32 re-rank of the
    top-``coarse_k`` shortlist.

    At 100 TB the probe join is the partition-pruning analog of
    ``rabitq_search``: with the code table written ``partitionBy
    (cluster_id)`` only nprobe/K of the data is scanned, codes are
    m bytes/vector, and the fp32 column is read only for the
    rank-bounded shortlist.  ``codebooks=None`` derives deterministic
    octant codebooks from the residuals themselves (the oracle twin);
    pass :func:`train_pq_codebooks` output (trained on residuals) for
    production.
    """
    from .ivf import assign_clusters, select_probes

    dim = m * dsub  # the PQ subspace split covers the whole vector
    base = _require_width(base, "vec", dim, "ivfpq_knn")
    queries = _require_width(queries, "qvec", dim, "ivfpq_knn")
    assigned = assign_clusters(base, centroids, dim=dim)  # (id, vec, cluster_id)
    # Staged lazily (_stage_lazy): the residual table feeds THREE plan
    # branches (codebook derivation, the encode join, and the
    # cluster_id join under `approx`), and the analyzed plan would top
    # 1,000 lines if each re-derived it.  The checkpoint fills on the
    # first action that reads it — the eager codebook job when
    # codebooks=None; with caller-supplied codebooks that is the final
    # search job itself, whose concurrent stages may each run the argmin
    # scan before the checkpoint is filled (perf only).  One row per
    # base vector (id, cluster_id, rvec) — the same "write the index,
    # then search it" staging save_ivfpq_index does on disk.
    res = assigned.join(F.broadcast(centroids), "cluster_id").select(
        "id", "cluster_id", F.expr(V.sub("vec", "centroid")).alias("rvec")
    ).transform(_stage_lazy)
    res_subs = _sub_explode(res.select("id", "rvec"), "rvec", m, dsub, "sv").select(
        "id", "sub_id", "sv"
    )
    if codebooks is None:
        # Pinned (localCheckpoint): the derived codebooks are consumed
        # by BOTH the encode and decode joins below — compute the
        # aggregation once instead of once per consumer.
        codebooks = residual_octant_codebooks(res_subs).transform(_stage_eager)

    # staged (lazy ckpt): probes feeds BOTH the pruning key broadcast
    # and the candidate join — without it the probe-selection window
    # re-runs per consumer (measured +2.5 s warm at sf0.1)
    probes = select_probes(queries, centroids, nprobe, dim=dim).transform(_stage_lazy)  # (qid, probe_rank, cluster_id, cdist)
    # Partition pruning BEFORE reconstruction (r10, guide §6 pushdown):
    # only probed clusters' residuals are encoded, decoded and
    # reconstructed — previously the whole index decoded and the probe
    # join discarded the rest ABOVE the groupBy, where Catalyst cannot
    # push it down.  Codebook derivation stays corpus-wide (res_subs —
    # pruning it would change the codewords).  Output identical:
    # candidates were always restricted to probed clusters.
    pkeys = probes.select("cluster_id").distinct()
    res_probed = res.join(F.broadcast(pkeys), "cluster_id", "leftsemi")
    res_subs_probed = _sub_explode(
        res_probed.select("id", "rvec"), "rvec", m, dsub, "sv"
    ).select("id", "sub_id", "sv")
    codes = encode_subs(res_subs_probed, codebooks)
    # Decode + reconstruct: approx = centroid + decoded residual.
    approx = (
        pq_decode(codes, codebooks)
        .join(res_probed.select("id", "cluster_id"), "id")
        .join(F.broadcast(centroids), "cluster_id")
        .select(
            "id",
            "cluster_id",
            F.expr(
                "zip_with(centroid, dvec, (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE))"
            ).alias("avec"),
        )
    )
    cand = (
        approx.join(F.broadcast(probes.select("qid", "cluster_id")), "cluster_id")
        .join(F.broadcast(queries), "qid")
        .select("qid", "id", F.expr(V.l2sq("qvec", "avec", dim)).alias("dist_q"))
    )
    return rerank_exact(topk(cand, coarse_k, by="dist_q"), queries, base, k)


def _lloyd_subspace(X, ksub: int, iters: int, seed: int):
    """Seeded Lloyd's over one subspace sample → (ksub', dsub) ndarray."""
    import numpy as np

    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(ksub, len(X)), replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        for c in range(len(cents)):
            mask = a == c
            if mask.any():
                cents[c] = X[mask].mean(0)
    return cents


def _train_sample_codebooks(sample, m: int, dsub: int, ksub: int, iters: int, seed: int):
    """Per-subspace Lloyd's over a driver sample → {(sub_id, code): cw}."""
    return {
        (j, c): cents[c]
        for j in range(m)
        for cents in [_lloyd_subspace(sample[:, j * dsub : (j + 1) * dsub], ksub, iters, seed + j)]
        for c in range(len(cents))
    }


def _encode_decode_sample(sample, books, m: int, dsub: int):
    """Reconstruct a sample through the codebooks (numpy, for training)."""
    import numpy as np

    out = np.empty_like(sample)
    for j in range(m):
        cents = np.stack([books[(j, c)] for c in range(sum(1 for k in books if k[0] == j))])
        X = sample[:, j * dsub : (j + 1) * dsub]
        a = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
        out[:, j * dsub : (j + 1) * dsub] = cents[a]
    return out


def _collect_sample(base: DataFrame, vec: str, sample_size: int):
    import numpy as np

    take = min(sample_size, base.count())
    return np.array(
        [r[0] for r in base.select(vec).orderBy(F.xxhash64(vec)).limit(take).collect()],
        dtype=np.float64,
    )


def train_pq_codebooks(
    base: DataFrame,
    m: int,
    ksub: int,
    vec: str = "vec",
    sample_size: int = 25_000,
    iters: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Production codebooks: seeded per-subspace Lloyd's on a driver-side
    sample (the `sampled_kmeans_centroids` recipe, once per subspace) →
    (sub_id, code, cw).  Deterministic for a fixed (seed, sample_size);
    at 100 TB the sample is the standard PQ training protocol (FAISS
    trains on ≤ a few 100k vectors regardless of corpus size)."""
    d = len(base.select(vec).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    sample = _collect_sample(base, vec, sample_size)
    books = _train_sample_codebooks(sample, m, dsub, ksub, iters, seed)
    rows = [(j, c, [float(x) for x in cw]) for (j, c), cw in sorted(books.items())]
    return base.sparkSession.createDataFrame(
        rows, "sub_id INT, code INT, cw ARRAY<DOUBLE>"
    )


def train_opq(
    base: DataFrame,
    m: int,
    ksub: int,
    vec: str = "vec",
    sample_size: int = 25_000,
    opq_iters: int = 10,
    lloyd_iters: int = 4,
    seed: int = 42,
):
    """OPQ-NP (Ge et al., *Optimized Product Quantization*, CVPR 2013,
    non-parametric variant): learn an orthonormal rotation R that
    minimizes PQ reconstruction error by alternating (1) per-subspace
    Lloyd's in the rotated space and (2) the orthogonal-Procrustes solve
    ``R = UVᵀ`` of ``XᵀẐ = USVᵀ`` (Ẑ = the decoded reconstruction).

    Driver-side numpy on a bounded sample (the FAISS OPQMatrix training
    protocol — sample size is corpus-independent, so this is the 100 TB
    path too); everything downstream applies R with :func:`rotate_vectors`
    (Arrow batch matmul) and reuses the plain-PQ operators unchanged,
    because L2 distances are rotation-invariant.

    Returns ``(R, codebooks_df)``: R as a (D, D) float64 ndarray,
    codebooks trained in the rotated space.
    """
    import numpy as np

    d = len(base.select(vec).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    X = _collect_sample(base, vec, sample_size)
    R = np.eye(d)
    books = None
    for _ in range(opq_iters):
        Z = X @ R
        books = _train_sample_codebooks(Z, m, dsub, ksub, lloyd_iters, seed)
        Zhat = _encode_decode_sample(Z, books, m, dsub)
        U, _, Vt = np.linalg.svd(X.T @ Zhat)
        R = U @ Vt
    Z = X @ R
    books = _train_sample_codebooks(Z, m, dsub, ksub, lloyd_iters, seed)
    rows = [(j, c, [float(x) for x in cw]) for (j, c), cw in sorted(books.items())]
    cb = base.sparkSession.createDataFrame(rows, "sub_id INT, code INT, cw ARRAY<DOUBLE>")
    return R, cb


def rotate_vectors(df: DataFrame, R, vec: str = "vec", out: str | None = None) -> DataFrame:
    """Apply a rotation to a vector column in one Arrow-batched matmul
    (the ``rabitq.rotate_queries`` shape, generalized) — map-only, no
    shuffle; other columns pass through."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    out = out or vec
    spark = df.sparkSession
    bR = spark.sparkContext.broadcast(np.asarray(R, dtype=np.float64))
    others = [c for c in df.columns if c != vec]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name != vec]
        + [f"{out} array<double>"]
    )

    def rot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        R_ = bR.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec].tolist(), dtype=np.float64)
            cols = {c: pdf[c].to_numpy() for c in others}
            cols[out] = list(V @ R_)
            yield pd.DataFrame(cols)

    return df.mapInPandas(rot, schema)


def save_ivfpq_index(
    base: DataFrame,
    centroids: DataFrame,
    path: str,
    m: int,
    dsub: int,
    codebooks: DataFrame | None = None,
) -> None:
    """Persist an IVF-PQ index: codes parquet ``partitionBy(cluster_id)``
    (probe joins prune partitions, the ``rabitq.save_index`` layout) +
    centroid and codebook side tables + ``meta.json``.  Encoding runs
    ONCE here — searches touch only codes + the rank-bounded rerank
    shortlist.  ``codebooks=None`` derives the deterministic octant
    codebooks from the residuals (pass ``train_pq_codebooks`` output
    trained on residuals for production)."""
    import json
    import os

    from .ivf import assign_clusters

    spark = base.sparkSession
    base = _require_width(base, "vec", m * dsub, "save_ivfpq_index")
    assigned = assign_clusters(base, centroids)
    res = assigned.join(F.broadcast(centroids), "cluster_id").select(
        "id", "cluster_id", F.expr(V.sub("vec", "centroid")).alias("rvec")
    )
    res_subs = _sub_explode(res.select("id", "rvec"), "rvec", m, dsub, "sv").select(
        "id", "sub_id", "sv"
    )
    if codebooks is None:
        # Same pin as ivfpq_knn: the derived codebooks are consumed by
        # the encode join here AND persisted below — compute once.
        codebooks = residual_octant_codebooks(res_subs).transform(_stage_eager)
    codes = (
        encode_subs(res_subs, codebooks)
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "code"))).alias("sc"))
        .select("id", F.expr("transform(sc, x -> x.code)").alias("codes"))
        .join(res.select("id", "cluster_id"), "id")
    )
    codes.write.mode("overwrite").partitionBy("cluster_id").parquet(f"{path}/codes")
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    codebooks.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as f:
        json.dump({"kind": "ivfpq", "m": m, "dsub": dsub}, f)


def search_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 3,
    coarse_k: int = 50,
    k: int = 10,
    rerank_base: DataFrame | None = None,
) -> DataFrame:
    """Search a saved IVF-PQ index → (qid, rank, id, dist).  The probe
    semi-join pushes ``cluster_id`` into the partitioned codes scan
    (only nprobe/K partitions read); candidates are reconstructed from
    codes (``centroid + codeword``s) and ranked by ADC.  With
    ``rerank_base`` (id, vec) the shortlist re-ranks on exact fp32 —
    FAISS-style refine; without it, ADC estimates are returned (codes
    are all the index stores, like the reference)."""
    import json

    from .ivf import select_probes

    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    m, dsub = meta["m"], meta["dsub"]
    codes = spark.read.parquet(f"{path}/codes")
    centroids = spark.read.parquet(f"{path}/centroids")
    codebooks = spark.read.parquet(f"{path}/codebooks")
    queries = _require_width(queries, "qvec", m * dsub, "search_ivfpq_index")
    probes = select_probes(queries, centroids, nprobe)
    sub_codes = codes.join(
        F.broadcast(probes.select("qid", "cluster_id")), "cluster_id"
    ).select(
        "qid",
        "id",
        "cluster_id",
        F.expr(
            "explode(transform(sequence(0, size(codes) - 1), "
            "j -> struct(CAST(j AS INT) AS sub_id, codes[j] AS code)))"
        ).alias("sc"),
    ).select("qid", "id", "cluster_id", F.col("sc.sub_id").alias("sub_id"), F.col("sc.code").alias("code"))
    dec = (
        sub_codes.join(F.broadcast(codebooks), ["sub_id", "code"])
        .groupBy("qid", "id", "cluster_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "cw"))).alias("scw"))
        .select(
            "qid", "id", "cluster_id",
            F.expr("flatten(transform(scw, x -> x.cw))").alias("dvec"),
        )
    )
    apx = dec.join(F.broadcast(centroids), "cluster_id").select(
        "qid", "id",
        F.expr("zip_with(centroid, dvec, (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE))").alias("avec"),
    )
    cand = apx.join(F.broadcast(queries), "qid").select(
        "qid", "id", F.expr(V.l2sq("qvec", "avec")).alias("dist_q")
    )
    if rerank_base is None:
        # the first min(k, coarse_k) of the shortlist's own (dist_q, id) order
        return topk(cand, min(k, coarse_k), by="dist_q").withColumnRenamed("dist_q", "dist")
    return rerank_exact(topk(cand, coarse_k, by="dist_q"), queries, rerank_base, k)


def opq_adc_knn(
    queries: DataFrame,
    base: DataFrame,
    R,
    codebooks: DataFrame,
    m: int,
    dsub: int,
    coarse_k: int = 50,
    k: int = 10,
) -> DataFrame:
    """OPQ-ADC search → (qid, rank, id, dist): rotate both sides (L2 is
    rotation-invariant, so ranks AND distances match the unrotated
    space up to float round-off), then run the plain PQ estimate→rerank
    pipeline in the rotated space."""
    qr = rotate_vectors(queries, R, vec="qvec")
    br = rotate_vectors(base, R, vec="vec")
    return pq_adc_knn(qr, br, codebooks, m=m, dsub=dsub, coarse_k=coarse_k, k=k)

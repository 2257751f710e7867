"""IVF (inverted-file) coarse partitioning operators (SURVEY §2.3 J2/J3,
§2.4 A1/A2, §2.5 W1).

The reference trains K-means with faiss (``python/ivf.py:26-35``), assigns
each base vector to its nearest centroid, and at query time scans only the
``nprobe`` clusters whose centroids are nearest to the query
(``inc/index/Initializer.hpp:55-68``, ``inc/index/IVF.hpp:313-321``).

Spark mapping — the core scale story of this engine:

- centroids are tiny (K ≤ 4096): always ``broadcast()``;
- cluster assignment is a broadcast theta-join + per-id argmin window;
- the index is a DataFrame *partitioned by* ``cluster_id``
  (``write.partitionBy``) so the probe join prunes partitions — Spark's
  partition pruning is the exact analog of the reference's
  pointer-sliced cluster views (``inc/index/Cluster.hpp:15-58``);
- probe selection is a per-query top-nprobe window over the broadcast
  centroid table (exact; the reference's HNSW shortcut W2 is an
  approximation we deliberately skip, SURVEY §4.2.3).

Two centroid providers:

- :func:`label_centroids` — deterministic, SQL-expressible (per-label mean,
  rounded to 6 decimals so Spark and DuckDB agree bitwise downstream);
  fills the role of the precomputed-centroids fixture (FIXTURES.md).
- :func:`kmeans_centroids` — MLlib KMeans (A2), the production path
  (iterative → rows-only oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..localdf import local_rows_df
from .knn import distance_col, topk


def label_centroids(base: DataFrame, vec: str = "embedding", label: str = "label") -> DataFrame:
    """Per-label mean vector → (cluster_id INT, centroid ARRAY<DOUBLE>).

    Rounding to 6 decimals makes the centroid values exactly reproducible
    across engines (partial-agg sum order perturbs ~1e-15; the rounding
    grid is 9 orders of magnitude coarser), so every downstream distance
    computed from them matches bitwise.

    Shape note (r11, guide §1.3 — prototyped and REJECTED on
    measurement): a one-groupBy rewrite with dim per-element
    ``avg(get(vec, i))`` aggregates (no explode, no second shuffle)
    measured SLOWER warm in an interleaved fresh-JVM A/B at sf0.1 —
    knn_ivf 1.35–1.76s → 1.93–2.30s, semdedup 1.73–1.78s → 2.4–3.0s —
    the wide-aggregate operator costs more per row than the exploded
    hash aggregate saves in shuffles at fixture scale.  Kept the
    explode form; revisit only with a ≥10⁶-row × high-dim measurement.
    """
    exploded = base.select(F.col(label), F.posexplode(F.col(vec)).alias("pos", "val"))
    per_dim = exploded.groupBy(label, "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("c")
    )
    return (
        per_dim.groupBy(label)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col(label).cast("int").alias("cluster_id"),
            F.expr("transform(pc, x -> x.c)").alias("centroid"),
        )
    )


def kmeans_centroids(
    base: DataFrame, k: int, vec: str = "embedding", seed: int = 42, max_iter: int = 20
) -> DataFrame:
    """A2: Lloyd's K-means via MLlib (reference delegates to faiss
    ``IVF{K},Flat`` train, python/ivf.py:26-29).  MLlib does the
    partial/final aggregation tree internally — this is the scalable
    trainer for real corpora."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = base.select(F.col(vec).alias("_arr")).withColumn("features", array_to_vector("_arr"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="features").fit(feat)
    spark = base.sparkSession
    cents = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    # LocalRelation-backed (r11): downstream collect/broadcast is
    # job-free — the single-slice parallelize it replaces paid one
    # Python-RDD worker round-trip per action (see localdf)
    return local_rows_df(spark, cents, "cluster_id int, centroid array<double>")


def assign_clusters(
    base: DataFrame,
    centroids: DataFrame,
    id_: str = "id",
    vec: str = "vec",
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """J2 argmin join: each vector → nearest centroid.

    Broadcast nested-loop against the small centroid table, then a
    per-id argmin (`row_number` over dist with cluster_id tie-break —
    deterministic, unlike the reference's faiss internal order).
    Output: (id, vec, cluster_id).
    """
    pairs = base.crossJoin(F.broadcast(centroids))
    dist = distance_col(metric, vec, "centroid", dim)
    w = Window.partitionBy(id_).orderBy(F.col("_adist").asc(), F.col("cluster_id").asc())
    # rank projected in one pass instead of withColumn (r11): each
    # DataFrame op re-analyzes the accumulated plan (with the unrolled
    # distance tree in it) eagerly — same plan, one fewer pass
    return (
        pairs.select(F.col(id_), F.col(vec), F.col("cluster_id"), dist.alias("_adist"))
        .select(F.col(id_), F.col(vec), F.col("cluster_id"), F.row_number().over(w).alias("_rn"))
        .where(F.col("_rn") == 1)
        .select(id_, vec, "cluster_id")
    )


def assign_clusters_combined(
    base: DataFrame,
    centroids: DataFrame,
    id_: str = "id",
    vec: str = "vec",
) -> DataFrame:
    """J2 scale path: BLAS argmin inside an Arrow ``mapInPandas`` pass.

    The declarative :func:`assign_clusters` materializes N×K candidate
    rows before its window — at K=4096 that is a 4096× row blowup no
    cluster survives.  Here the K×dim centroid matrix is broadcast and
    each Arrow batch computes ``argmin_c (‖c‖² − 2⟨x,c⟩)`` as ONE matmul:
    map-only, no join, no shuffle, no per-row Python.  Ties break to the
    lowest cluster_id (same total order as the declarative form — equality
    is asserted in tests).  This is the same fused assignment
    ``rabitq.build_index`` uses internally (L2 metric).
    Output: (id, vec, cluster_id).
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    spark = base.sparkSession
    cent_rows = sorted(
        (int(r[0]), np.array(r[1], dtype=np.float64))
        for r in centroids.select("cluster_id", "centroid").collect()
    )
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.stack([v for _, v in cent_rows])
    bC = spark.sparkContext.broadcast((cids, cmat))

    from pyspark.sql.types import IntegerType

    out_schema = base.select(id_, vec).schema.add("cluster_id", IntegerType())

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids_, cmat_ = bC.value
        c_sq = (cmat_ * cmat_).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec].tolist(), dtype=np.float64)
            d = c_sq[None, :] - 2.0 * (X @ cmat_.T)
            nearest = np.argmin(d, axis=1)  # ties → first = lowest cid
            pdf = pdf.copy()
            pdf["cluster_id"] = cids_[nearest].astype(np.int32)
            yield pdf

    return base.select(id_, vec).mapInPandas(assign, out_schema)


def cell_stats(
    base: DataFrame,
    centroids: DataFrame,
    id_: str = "id",
    vec: str = "vec",
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """IVF cell-health audit → (cluster_id, n_vectors, sum_dist): per-cell
    population and total assignment distance — the imbalance report an
    operator reads before serving a 100 TB IVF index (cell skew is probe-
    latency skew; a fat cell makes every query probing it pay its size,
    cf. the reference's per-cluster layout in inc/index/IVF.hpp).

    Cross-engine exactness: each per-row distance lands on the shared
    6-dp rounding grid, is cast to DECIMAL and summed EXACTLY (decimal
    addition is order-free, so partial aggregation cannot perturb it);
    only the final projection converts to DOUBLE, once, on both engines —
    the TPC-H money-aggregate discipline applied to float distances.
    Plan: broadcast argmin (same shape as :func:`assign_clusters`, the
    distance kept) + one partial-agg groupBy — no extra shuffle.
    """
    pairs = base.crossJoin(F.broadcast(centroids))
    dist = distance_col(metric, vec, "centroid", dim)
    w = Window.partitionBy(id_).orderBy(F.col("_adist").asc(), F.col("cluster_id").asc())
    asn = (
        pairs.select(F.col(id_), F.col("cluster_id"), dist.alias("_adist"))
        .select(
            F.col(id_), F.col("cluster_id"), F.col("_adist"),
            F.row_number().over(w).alias("_rn"),
        )
        .where(F.col("_rn") == 1)
    )
    return asn.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.round("_adist", 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_dist"),
    )


def select_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """W1: top-nprobe nearest centroids per query
    (inc/index/Initializer.hpp:55-68 partial-sort, as a window).
    Output: (qid, probe_rank, cluster_id, cdist)."""
    pairs = queries.crossJoin(F.broadcast(centroids))
    dist = distance_col(metric, "qvec", "centroid", dim)
    w = Window.partitionBy("qid").orderBy(F.col("cdist").asc(), F.col("cluster_id").asc())
    return (
        pairs.select(F.col("qid"), F.col("cluster_id"), dist.alias("cdist"))
        .select(
            F.col("qid"), F.col("cluster_id"), F.col("cdist"),
            F.row_number().over(w).cast("long").alias("probe_rank"),
        )
        .where(F.col("probe_rank") <= nprobe)
    )


def coarse_membership(
    centroids: DataFrame, n_coarse: int, mode: str = "kmeans", seed: int = 42
) -> DataFrame:
    """Group the K centroids into ``n_coarse`` super-clusters →
    (cluster_id, coarse_id).

    ``mode='kmeans'``: k-means over the centroid vectors themselves — the
    geometric grouping a production deployment wants.  ``mode='mod'``:
    deterministic ``cluster_id % n_coarse`` — SQL-expressible, used by the
    oracle-checked registered query (the two-level *semantics* are
    identical; only the grouping geometry differs)."""
    if mode == "mod":
        return centroids.select(
            "cluster_id", (F.col("cluster_id") % n_coarse).cast("int").alias("coarse_id")
        )
    cc = sampled_kmeans_centroids(centroids, k=n_coarse, vec="centroid", seed=seed)
    asn = assign_clusters(
        centroids.select(F.col("cluster_id").alias("id"), F.col("centroid").alias("vec")),
        cc,
    )
    return asn.select(
        F.col("id").alias("cluster_id"), F.col("cluster_id").alias("coarse_id")
    )


def coarse_centroid_table(centroids: DataFrame, membership: DataFrame) -> DataFrame:
    """Per-coarse-group mean of member centroids → (coarse_id, centroid).
    Rounded to 6 decimals (same cross-engine determinism argument as
    :func:`label_centroids`)."""
    ex = centroids.join(membership, on="cluster_id").select(
        "coarse_id", F.posexplode("centroid").alias("pos", "val")
    )
    per_dim = ex.groupBy("coarse_id", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("c")
    )
    return (
        per_dim.groupBy("coarse_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("coarse_id", F.expr("transform(pc, x -> x.c)").alias("centroid"))
    )


def select_probes_hier(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    n_coarse: int,
    coarse_probe: int,
    mode: str = "kmeans",
    metric: str = "l2",
    seed: int = 42,
) -> DataFrame:
    """W2 analog: two-level (hierarchical) probe selection for huge K.

    The reference switches to HNSW over centroids when K ≥ 20000
    (inc/index/IVF.hpp:157-161, inc/index/Initializer.hpp:103-115) because
    a flat scan of K centroids per query stops being cheap.  The
    Spark-native equivalent is a two-level IVF: rank ``n_coarse`` group
    centroids (tiny, broadcast), keep the top ``coarse_probe`` groups,
    then rank only the member centroids of those groups.  Per-query
    centroid comparisons drop from K to n_coarse + coarse_probe·K/n_coarse
    (minimized at n_coarse ≈ √(coarse_probe·K)); like the reference's HNSW
    path this is approximate — a probe cluster is missed iff its group
    centroid ranks below the cut — and ``coarse_probe = n_coarse``
    degenerates to exact W1 (asserted in tests).

    Output: (qid, probe_rank, cluster_id, cdist) — same contract as
    :func:`select_probes`, so it drops into ivf_search/rabitq_search
    unchanged."""
    membership = coarse_membership(centroids, n_coarse, mode=mode, seed=seed)
    ccent = coarse_centroid_table(centroids, membership)
    csel = select_probes(
        queries,
        ccent.select(F.col("coarse_id").alias("cluster_id"), "centroid"),
        coarse_probe,
        metric=metric,
    ).select("qid", F.col("cluster_id").alias("coarse_id"))
    cand = (
        csel.join(F.broadcast(membership), on="coarse_id")
        .join(F.broadcast(centroids), on="cluster_id")
        .join(queries.select("qid", "qvec"), on="qid")
    )
    dist = distance_col(metric, "qvec", "centroid")
    w = Window.partitionBy("qid").orderBy(F.col("cdist").asc(), F.col("cluster_id").asc())
    return (
        cand.select(F.col("qid"), F.col("cluster_id"), dist.alias("cdist"))
        .select(
            F.col("qid"), F.col("cluster_id"), F.col("cdist"),
            F.row_number().over(w).cast("long").alias("probe_rank"),
        )
        .where(F.col("probe_rank") <= nprobe)
    )


def ivf_search(
    queries: DataFrame,
    indexed_base: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    k: int,
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """J3 probe join + exact re-rank + W3 top-k.

    ``indexed_base`` must carry ``cluster_id`` (from :func:`assign_clusters`
    or an index load).  The probe list is an equi-join key on
    ``cluster_id``: on a partitioned index parquet this compiles to
    partition pruning / DPP, the Spark analog of the reference scanning
    only probed clusters (inc/index/IVF.hpp:313-321).
    Output: (qid, rank, id, dist).
    """
    probes = select_probes(queries, centroids, nprobe, metric=metric, dim=dim)
    cand = indexed_base.join(
        F.broadcast(probes.select("qid", "cluster_id")), on="cluster_id", how="inner"
    ).join(F.broadcast(queries.select("qid", "qvec")), on="qid", how="inner")
    dist = distance_col(metric, "qvec", "vec", dim)
    return topk(cand.select("qid", "id", dist.alias("dist")), k)


def sampled_kmeans_centroids(
    base: DataFrame,
    k: int,
    vec: str = "embedding",
    sample_size: int = 25_000,
    iters: int = 8,
    seed: int = 42,
) -> DataFrame:
    """A2 fast path: Lloyd's on a driver-side seeded sample (numpy BLAS).

    Sample-based training is standard IVF practice (faiss trains on a
    subsample by default); only the TRAINING is centralized — assignment
    stays distributed.  At D=1536/K=256 this is ~50× faster than MLlib's
    full-data k-means‖ and yields equivalent probe quality.  Deterministic
    for a fixed seed (sample via seeded sort-free `sample`, ties by id
    ordering of the collected rows).
    """
    import numpy as np

    n_total = base.count()
    frac = min(1.0, (sample_size * 1.1) / max(n_total, 1))
    # Arrow toPandas (r11): the py4j row-pickle collect of the sample was
    # ~1s of the ANN self-join's per-run wall; Arrow moves the same rows
    # binary-exact (same plan, same row order — guide §6 driver transfers)
    pdf = base.select(vec).sample(fraction=frac, seed=seed).limit(sample_size).toPandas()
    X = np.array(pdf[vec].tolist(), dtype=np.float64) if len(pdf) else np.empty((0, 0))
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        d = (cent * cent).sum(axis=1)[None, :] - 2.0 * (X @ cent.T)
        a = np.argmin(d, axis=1)
        # Vectorized Lloyd update: group-sum via sort + reduceat instead
        # of a K-pass boolean scan (O(N log N + N·D) vs O(K·N)) — at the
        # soak operating point (K=4096, 160k samples) the per-cluster
        # loop dominated training.  Stable sort keeps within-cluster
        # summation in row order, so the update is DETERMINISTIC for a
        # fixed seed — but reduceat sums sequentially while np.mean uses
        # pairwise summation, so centroids may differ from the older
        # X[m].mean(axis=0) form in the last ulp (artifacts built before
        # this change can drift by 1 ulp; no registered oracle depends
        # on sampled-kmeans centroid bit values).
        order = np.argsort(a, kind="stable")
        sa = a[order]
        starts = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
        sums = np.add.reduceat(X[order], starts, axis=0)
        labels = sa[starts]
        counts = np.diff(np.r_[starts, len(sa)])
        cent[labels] = sums / counts[:, None]
        empty = np.setdiff1d(np.arange(len(cent)), labels, assume_unique=True)
        if empty.size:  # empty cluster → reseed at the farthest point
            far = np.argmax(d[np.arange(len(X)), a])
            cent[empty] = X[far]
    spark = base.sparkSession
    # LocalRelation-backed (r11): see kmeans_centroids / localdf —
    # downstream collects and broadcasts of the K-row table are job-free
    return local_rows_df(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)],
        "cluster_id int, centroid array<double>",
    )


# ---------------------------------------------------------------------------
# W2: graph-based probe selection (the reference's HNSW-over-centroids path)
# ---------------------------------------------------------------------------

def build_centroid_graph(
    centroids: DataFrame, M: int = 16, n_entries: int = 8
) -> dict:
    """W2 build: a navigable neighbor graph over the K centroids — the
    Spark-native analog of the reference inserting every centroid into an
    hnswlib index when K ≥ 20000 (inc/index/IVF.hpp:157-161,
    inc/index/Initializer.hpp:80-97).

    The M-NN edge set is computed DISTRIBUTED with the map-side-combined
    exact KNN operator (a centroid self-join — K queries over K rows),
    then the K·M edge list (tiny: 4096·16 ints) is collected and
    symmetrized driver-side.  Symmetrization (u→v ⟹ v→u, degree-capped
    at 2M by distance) is what makes a plain kNN digraph navigable enough
    for greedy search — the same role HNSW's bidirectional insertion
    links play.  Entry points are ``n_entries`` centroids evenly spaced
    in cluster-id order (deterministic; multi-entry search compensates
    for kNN-graph components the way HNSW's upper layers do).

    Returns a plain dict (ids, vecs, adj, entries) — numpy, broadcast
    by :func:`graph_probes`; at K = 10⁵, D = 1536 the payload is
    ~1.2 GB of float32 vectors, the same order as the hnswlib index the
    reference holds in RAM per node.
    """
    import numpy as np

    from .knn import exact_knn_combined

    as_q = centroids.select(
        F.col("cluster_id").cast("long").alias("qid"), F.col("centroid").alias("qvec")
    )
    as_b = centroids.select(
        F.col("cluster_id").cast("long").alias("id"), F.col("centroid").alias("vec")
    )
    edges = (
        exact_knn_combined(as_q, as_b, k=M + 1)
        .where(F.col("qid") != F.col("id"))
        .select("qid", "id", "dist")
        .collect()
    )
    rows = sorted(
        (int(r[0]), np.array(r[1], dtype=np.float64))
        for r in centroids.select("cluster_id", "centroid").collect()
    )
    ids = np.array([c for c, _ in rows], dtype=np.int64)
    vecs = np.stack([v for _, v in rows]).astype(np.float32)
    pos = {int(c): i for i, c in enumerate(ids)}
    K = len(ids)
    nbrs: list[dict[int, float]] = [dict() for _ in range(K)]
    for r in edges:
        u, v, d = pos[int(r[0])], pos[int(r[1])], float(r[2])
        nbrs[u][v] = d
        nbrs[v][u] = d  # symmetrize
    deg_cap = 2 * M
    adj = np.full((K, deg_cap), -1, dtype=np.int32)
    for u in range(K):
        ranked = sorted(nbrs[u].items(), key=lambda t: (t[1], t[0]))[:deg_cap]
        for j, (v, _) in enumerate(ranked):
            adj[u, j] = v
    step = max(1, K // max(1, n_entries))
    entries = np.arange(0, K, step, dtype=np.int32)[:n_entries]
    return {"ids": ids, "vecs": vecs, "adj": adj, "entries": entries}


def save_centroid_graph(spark, graph: dict, path: str) -> None:
    """Persist the W2 centroid graph as an index side artifact
    (``<index>/graph``), so serving sessions load it instead of
    re-running the K-query self-KNN build.  Parity: the reference
    serializes its hnswlib initializer INSIDE the saved index
    (``inc/index/Initializer.hpp`` save/load path) — a saved index is
    search-ready without re-touching the centroid set.

    Layout: one parquet of per-node rows ``(pos, cluster_id, vec,
    adj, is_entry)``.  ``pos`` pins the array order so the loaded
    adjacency indices stay valid; entry points are evenly spaced in
    pos order by construction, so a flag column round-trips them.
    At K = 10⁵, D = 1536 this is ~600 MB — written once per index
    build, read with a column-pruned scan by every serving session.
    """
    import numpy as np
    import pandas as pd

    ids, vecs, adj, entries = (
        graph["ids"], graph["vecs"], graph["adj"], graph["entries"],
    )

    flag = np.zeros(len(ids), dtype=bool)
    flag[entries] = True
    pdf = pd.DataFrame(
        {
            "pos": np.arange(len(ids), dtype=np.int64),
            "cluster_id": ids.astype("int64"),
            "vec": [r.tolist() for r in vecs],
            "adj": [r.tolist() for r in adj],
            "is_entry": flag,
        }
    )
    (
        spark.createDataFrame(pdf)
        .select(
            "pos",
            "cluster_id",
            F.col("vec").cast("array<float>"),
            F.col("adj").cast("array<int>"),
            "is_entry",
        )
        .write.mode("overwrite")
        .parquet(f"{path}/graph")
    )


def load_centroid_graph(spark, path: str) -> dict:
    """Load a :func:`save_centroid_graph` artifact back into the
    numpy dict :func:`graph_probes` broadcasts.  One ordered collect
    of K rows — the same driver-side footprint the in-memory build
    already has."""
    import numpy as np

    rows = (
        spark.read.parquet(f"{path}/graph")
        .orderBy("pos")
        .collect()
    )
    ids = np.array([r["cluster_id"] for r in rows], dtype=np.int64)
    vecs = np.array([r["vec"] for r in rows], dtype=np.float32)
    adj = np.array([r["adj"] for r in rows], dtype=np.int32)
    entries = np.array(
        [r["pos"] for r in rows if r["is_entry"]], dtype=np.int32
    )
    return {"ids": ids, "vecs": vecs, "adj": adj, "entries": entries}


def _beam_search(q, vecs, adj, entries, ef: int, nprobe: int):
    """Greedy best-first search over the centroid graph (layer-0 HNSW
    search, Initializer.hpp:103-115 → hnswlib searchKnn).  Returns
    [(dist, idx)] of the nprobe nearest found, (dist, idx)-sorted."""
    import heapq

    import numpy as np

    visited = np.zeros(len(vecs), dtype=bool)
    visited[entries] = True
    diff = vecs[entries].astype(np.float64) - q
    d_ent = (diff * diff).sum(axis=1)
    frontier = [(float(d), int(i)) for d, i in zip(d_ent, entries)]
    heapq.heapify(frontier)
    top = [(-float(d), int(i)) for d, i in frontier]
    heapq.heapify(top)
    while len(top) > ef:
        heapq.heappop(top)
    while frontier:
        d, u = heapq.heappop(frontier)
        if len(top) >= ef and d > -top[0][0]:
            break  # nearest unexpanded node is worse than the ef-th best
        nb = adj[u]
        nb = nb[nb >= 0]
        nb = nb[~visited[nb]]
        if nb.size == 0:
            continue
        visited[nb] = True
        diff = vecs[nb].astype(np.float64) - q
        dn = (diff * diff).sum(axis=1)
        bound = -top[0][0] if len(top) >= ef else np.inf
        for dd, v in zip(dn, nb):
            if dd < bound or len(top) < ef:
                heapq.heappush(frontier, (float(dd), int(v)))
                heapq.heappush(top, (-float(dd), int(v)))
                if len(top) > ef:
                    heapq.heappop(top)
                    bound = -top[0][0]
    found = sorted((-d, i) for d, i in top)
    return found[:nprobe]


def graph_probes(
    queries: DataFrame,
    graph: dict,
    nprobe: int,
    ef: int | None = None,
) -> DataFrame:
    """W2 query side: per-query approximate top-nprobe centroids by beam
    search over the broadcast graph — same output contract as
    :func:`select_probes` (qid, probe_rank, cluster_id, cdist), so it
    drops into any probe-join downstream unchanged.

    ``ef`` defaults to the reference's ``max(768, 2·nprobe)``
    (Initializer.hpp:106), capped at K.  The graph (K·2M int32 adjacency
    + K×D float32 vectors) is ONE broadcast shared by all executor
    threads; queries stream through mapInPandas — NQ is unbounded, the
    driver never sees it.  Approximate like the reference: a true probe
    is missed only if beam search never reaches it; recall vs exact W1
    is asserted ≥ 0.95 in tests at default ef.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    K = len(graph["ids"])
    ef_val = min(K, max(768, 2 * nprobe) if ef is None else ef)
    spark = queries.sparkSession
    bG = spark.sparkContext.broadcast(
        (graph["ids"], graph["vecs"], graph["adj"], graph["entries"])
    )

    def search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, vecs, adj, entries = bG.value
        Kc = len(ids)
        np_take = min(nprobe, Kc)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if ef_val >= Kc:
                # exhaustive beam ≡ exact: use the dense BLAS path (one
                # matmul per Arrow batch) — the same flat-scan the
                # reference's FlatInitializer uses below its HNSW
                # threshold (inc/index/IVF.hpp:157-161), vectorized
                # across the whole query batch instead of per-query
                # graph walks.
                Q = np.array(pdf["qvec"].tolist(), dtype=np.float64)
                V = vecs.astype(np.float64)
                d = ((Q * Q).sum(1)[:, None] + (V * V).sum(1)[None, :]
                     - 2.0 * (Q @ V.T))
                d = np.maximum(d, 0.0)
                order = np.lexsort(
                    (np.broadcast_to(ids, d.shape), d), axis=1
                )[:, :np_take]
                g = len(Q)
                rows = np.arange(g)[:, None]
                yield pd.DataFrame(
                    {"qid": np.repeat(pdf["qid"].to_numpy(), np_take),
                     "probe_rank": np.tile(np.arange(1, np_take + 1), g),
                     "cluster_id": ids[order].ravel().astype(np.int32),
                     "cdist": d[rows, order].ravel()}
                )
                continue
            out_qid, out_rank, out_cid, out_d = [], [], [], []
            for q_id, q_vec in zip(pdf["qid"], pdf["qvec"]):
                q = np.asarray(list(q_vec), dtype=np.float64)
                found = _beam_search(q, vecs, adj, entries, ef_val, nprobe)
                # final order: (dist, cluster_id), same tie-break as W1
                ranked = sorted((d, int(ids[i])) for d, i in found)
                for r, (d, cid) in enumerate(ranked, start=1):
                    out_qid.append(q_id)
                    out_rank.append(r)
                    out_cid.append(cid)
                    out_d.append(d)
            yield pd.DataFrame(
                {"qid": out_qid, "probe_rank": out_rank,
                 "cluster_id": out_cid, "cdist": out_d}
            )

    out_schema = "qid long, probe_rank long, cluster_id int, cdist double"
    return queries.select("qid", "qvec").mapInPandas(search, out_schema)

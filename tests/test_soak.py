"""Bigger-fixture soak (VERDICT r1 #10): exercises the scale paths on a
100k-row synthetic index so regressions in combined KNN, the cogroup
scorer, and exact re-rank surface before the driver's gate does.

Gated behind SPARK_GRAFT_SOAK=1 — adds ~3-4 min, not part of the
per-round pytest budget."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SOAK"), reason="set SPARK_GRAFT_SOAK=1 to run"
)

N, DIM, NQ, KC = 100_000, 128, 200, 128


@pytest.fixture(scope="module")
def harness(spark):
    from extended_rabitq_spark.operators import ivf, rabitq

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((KC, DIM)).astype(np.float32) * 2.0
    lab = rng.integers(0, KC, N)
    X = centers[lab] + 0.35 * rng.standard_normal((N, DIM)).astype(np.float32)
    base = (
        spark.createDataFrame(pd.DataFrame({"id": np.arange(N), "vec": list(X)}))
        .select("id", F.col("vec").cast("array<float>").alias("vec"))
        .repartition(16)
        .persist()
    )
    base.count()
    Q = X[rng.integers(0, N, NQ)] + 0.05 * rng.standard_normal((NQ, DIM)).astype(np.float32)
    qs = (
        spark.createDataFrame(pd.DataFrame({"qid": np.arange(NQ), "qvec": list(Q)}))
        .select("qid", F.col("qvec").cast("array<float>").alias("qvec"))
        .persist()
    )
    qs.count()
    cents = ivf.sampled_kmeans_centroids(base, k=KC, vec="vec")
    idx, meta = rabitq.build_index(base, cents, total_bits=4)
    idx = idx.persist()
    idx.count()
    cf = rabitq.centroids_with_rotation(spark, cents, meta)
    yield base, qs, idx, cf, meta
    idx.unpersist(); qs.unpersist(); base.unpersist()


def test_combined_knn_equals_declarative_sample(spark, harness):
    """Map-side-combined GT == declarative on a query sample at 100k."""
    from extended_rabitq_spark.operators import knn

    base, qs, *_ = harness
    sample = qs.limit(20)
    a = [tuple(r) for r in knn.exact_knn(sample, base, k=10).orderBy("qid", "rank").collect()]
    b = [tuple(r) for r in knn.exact_knn_combined(sample, base, k=10).orderBy("qid", "rank").collect()]
    assert a == b


def test_rerank_lifts_recall_above_est_plateau(spark, harness):
    """Exact re-rank behind the Arrow scorer lifts np4 recall well above
    the est-only level (measured .792 -> .9545 on this harness)."""
    from extended_rabitq_spark import metrics
    from extended_rabitq_spark.operators import knn, rabitq

    base, qs, idx, cf, meta = harness
    gt = knn.exact_knn_combined(qs, base, k=10).persist()
    gt.count()
    recalls = {}
    for tag, rb in (("est", None), ("rerank", base)):
        res = rabitq.rabitq_search(qs, idx, cf, meta, nprobe=4, k=10,
                                   rerank_base=rb)
        r = metrics.recall_per_query(res, gt, 10).agg(F.avg("recall")).first()[0]
        recalls[tag] = float(r)
    gt.unpersist()
    assert recalls["rerank"] >= recalls["est"] + 0.05, recalls
    assert recalls["rerank"] >= 0.9, recalls


def test_cogroup_scorer_at_scale(spark, harness):
    """Cogroup scorer == broadcast scorer on the 100k index."""
    from conftest import FITS_ALL, FITS_NONE, broadcast_threshold
    from extended_rabitq_spark.operators import rabitq

    base, qs, idx, cf, meta = harness
    with broadcast_threshold(spark, FITS_ALL):
        b = rabitq.rabitq_search(qs, idx, cf, meta, nprobe=4, k=10)
    with broadcast_threshold(spark, FITS_NONE):
        c = rabitq.rabitq_search(qs, idx, cf, meta, nprobe=4, k=10)
    bm = {(r.qid, r.rank): r.id for r in b.collect()}
    cm = {(r.qid, r.rank): r.id for r in c.collect()}
    assert bm == cm and len(bm) == NQ * 10


def test_graph_probes_at_hnsw_scale_k(spark):
    """W2 in its actual regime: K=4096 centroids (the reference flips to
    HNSW at K ≥ 20000; 4096 is the largest published config) — graph
    build via the distributed M-NN self-join, then beam-search probe
    recall vs exact W1 at the reference's default ef."""
    import time

    from extended_rabitq_spark.operators import ivf

    rng = np.random.default_rng(11)
    K, D, NQ_, NP = 4096, 64, 100, 20
    cents = spark.createDataFrame(
        pd.DataFrame({
            "cluster_id": np.arange(K, dtype=np.int32),
            "centroid": list(rng.standard_normal((K, D))),
        })
    ).select("cluster_id", F.col("centroid").cast("array<double>").alias("centroid"))
    cents = cents.persist(); cents.count()
    qs = spark.createDataFrame(
        pd.DataFrame({
            "qid": np.arange(NQ_),
            "qvec": list(rng.standard_normal((NQ_, D))),
        })
    ).select("qid", F.col("qvec").cast("array<double>").alias("qvec"))
    t0 = time.perf_counter()
    graph = ivf.build_centroid_graph(cents, M=16)
    build_s = time.perf_counter() - t0
    exact = {}
    for r in ivf.select_probes(qs, cents, NP).collect():
        exact.setdefault(r.qid, set()).add(r.cluster_id)
    t0 = time.perf_counter()
    got = {}
    for r in ivf.graph_probes(qs, graph, nprobe=NP).collect():  # ef=768 default
        got.setdefault(r.qid, set()).add(r.cluster_id)
    search_s = time.perf_counter() - t0
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    print(f"graph K={K}: build {build_s:.1f}s, search {search_s:.1f}s, "
          f"probe recall {recall:.3f}")
    assert recall >= 0.95, recall
    cents.unpersist()


def test_minhash_lsh_50k_doc_corpus(spark):
    """Dedup at 10× the bench corpus: 50k docs (sf0.1 replicated with
    distinct ids; replicas are exact dups of their source).  Asserts
    (a) the LSH pipeline completes without the self-join recompute trap
    re-appearing (wall-clock bound is generous — the point is catching
    quadratic/recompute regressions, not ±30% host noise), and (b)
    every replica pair surfaces: replicated docs are word-identical, so
    each must land in the same band bucket and verify at jaccard 1."""
    import time

    from extended_rabitq_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n = docs.count()
    reps = [docs.select(
        (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"), "text"
    ) for i in range(10)]
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    big = big.persist()
    assert big.count() == 10 * n
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs(big, threshold=0.9)
    got = pairs.where(F.col("jaccard_r") == 1.0).count()
    wall = time.perf_counter() - t0
    # every source doc yields C(10,2)=45 replica pairs (plus any organic
    # near-dups); the replica pairs alone are a hard lower bound
    assert got >= 45 * n, (got, 45 * n)
    print(f"minhash 50k docs: {wall:.1f}s, {got} exact-dup pairs")
    assert wall < 600, wall
    big.unpersist()


def test_embedding_ann_dedup_10k_vectors(spark):
    """ANN self-join dedup at 5× the bench embedding table: 10k vectors
    (sf0.1 replicated with distinct ids — every vector has 4 exact
    copies).  The distributed self-join must (a) complete in bounded
    wall-clock (catches candidate-explosion / recompute regressions on
    the flagship path) and (b) rank exact-copy pairs (cos = 1) at the
    top of the global pool."""
    import time

    from extended_rabitq_spark.operators import dedup

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n = emb.count()
    reps = [emb.select(
        (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"), "embedding"
    ) for i in range(5)]
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    big = big.persist()
    assert big.count() == 5 * n
    t0 = time.perf_counter()
    top = dedup.embedding_ann_pairs(
        big, top_n=50, nprobe=4, k_per_query=8, n_clusters=32
    ).collect()
    wall = time.perf_counter() - t0
    print(f"ann dedup 10k vecs: {wall:.1f}s, {len(top)} pairs")
    assert len(top) == 50
    # replicas are bit-identical vectors: every top pair must be an exact
    # copy (cos rounds to 1.0) — anything less means the index missed
    # closer neighbors than it returned
    assert all(abs(r.cos_r - 1.0) < 1e-9 for r in top), sorted(
        {r.cos_r for r in top}
    )[:5]
    assert wall < 600, wall
    big.unpersist()


def test_graph_probes_at_hnsw_trigger_scale(spark):
    """W2 soak at the reference's HNSW trigger: the reference switches
    probe selection from flat scan to hnswlib at K >= 20000 clusters
    (inc/index/IVF.hpp:157-161).  Build the distributed M-NN centroid
    graph at K=20k synthetic centroids and assert (a) beam-search probe
    recall >= 0.95 vs exact W1 at the reference's default ef, and
    (b) the beam path is faster than exact ranking per query batch —
    the regime the graph exists for (VERDICT r3 item 6)."""
    import time

    import numpy as np
    import pandas as pd

    from extended_rabitq_spark.operators import ivf

    K, D, NQ, NPROBE = 20_000, 64, 200, 20
    rng = np.random.default_rng(11)
    C = rng.standard_normal((K, D)).astype(np.float32)
    cents = spark.createDataFrame(
        pd.DataFrame({"cluster_id": np.arange(K, dtype=np.int32), "centroid": list(C)})
    ).select(
        F.col("cluster_id").cast("int"),
        F.col("centroid").cast("array<double>"),
    ).persist()
    assert cents.count() == K
    Q = rng.standard_normal((NQ, D)).astype(np.float32)
    qs = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(NQ), "qvec": list(Q)})
    ).select("qid", F.col("qvec").cast("array<double>").alias("qvec")).persist()
    qs.count()

    t0 = time.perf_counter()
    graph = ivf.build_centroid_graph(cents, M=16, n_entries=8)
    build_wall = time.perf_counter() - t0
    assert graph["adj"].shape == (K, 32)

    # exact W1 (flat ranking — what the reference abandons at this K)
    t0 = time.perf_counter()
    exact = {
        (int(r["qid"]), int(r["cluster_id"]))
        for r in ivf.select_probes(qs, cents, NPROBE).collect()
    }
    exact_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    approx = {
        (int(r["qid"]), int(r["cluster_id"]))
        for r in ivf.graph_probes(qs, graph, NPROBE).collect()
    }
    beam_wall = time.perf_counter() - t0

    recall = len(exact & approx) / len(exact)
    print(
        f"graph soak K={K}: build {build_wall:.1f}s, exact W1 {exact_wall:.1f}s, "
        f"beam {beam_wall:.1f}s, probe recall {recall:.4f}"
    )
    assert recall >= 0.95, recall
    # persistence round-trip at trigger scale: the 20k-node artifact
    # (adj 20k×32 int32 + vecs 20k×64 float32) reloads bitwise and
    # produces identical probes
    import tempfile

    gpath = tempfile.mkdtemp() + "/idx"
    ivf.save_centroid_graph(spark, graph, gpath)
    loaded = ivf.load_centroid_graph(spark, gpath)
    for key in ("ids", "vecs", "adj", "entries"):
        np.testing.assert_array_equal(graph[key], loaded[key])
    reloaded = {
        (int(r["qid"]), int(r["cluster_id"]))
        for r in ivf.graph_probes(qs.limit(20), loaded, NPROBE).collect()
    }
    direct = {
        (int(r["qid"]), int(r["cluster_id"]))
        for r in ivf.graph_probes(qs.limit(20), graph, NPROBE).collect()
    }
    assert reloaded == direct
    # ef=768 beam walks ~4% of a 20k graph; it must beat the flat scan
    # (measured ~10x locally).  Two separately-timed distributed jobs
    # race host noise by construction, so re-measure once before
    # declaring a real regression.
    if beam_wall >= exact_wall * 1.5:
        t0 = time.perf_counter()
        ivf.graph_probes(qs, graph, NPROBE).collect()
        beam_wall = time.perf_counter() - t0
    assert beam_wall < exact_wall * 1.5, (beam_wall, exact_wall)
    cents.unpersist(); qs.unpersist()


@pytest.mark.parametrize(
    "tool",
    ["sf1_events_parity.py", "sf1_documents_parity.py", "sf1_embeddings_parity.py"],
)
def test_sf1_parity_tools(tool):
    """The three sf1-scale (10x sf0.1) cross-engine parity sweeps as
    env-gated soaks: events (1M rows, timestamp-tie density), documents
    (50k docs, 9 exact twins each — adversarial for every dedup
    family), embeddings (20k vectors, 10-way distance ties + RaBitQ
    recall envelope at the bench anchor geometry).  Each tool exits
    non-zero on any repr-level mismatch."""
    import subprocess
    import sys
    from pathlib import Path

    script = Path(__file__).resolve().parent.parent / "tools" / tool
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=900
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-1000:]


def test_bloom_gated_incremental_dedup_50k_corpus(spark):
    """Bloom-gated ingest at 10× the bench corpus: 50k-doc artifacts
    (sf0.1 replicated with distinct ids), a mixed 1.5k-doc batch (1k
    fresh synthetic + 500 corpus clones).  Asserts (a) gated verdicts ≡
    ungated bitwise at scale, (b) every planted clone is flagged
    exact_dup, and (c) the hash bloom prunes ≥ 95% of the fresh batch
    before any corpus join (the O(batch) fast-path claim, measured).

    Honest scale note: at a 50k-doc corpus the gated path is SLOWER
    wall-clock than ungated (measured ~9s vs ~4s) — the gate adds ~4
    fixed jobs (bitmap load, two survivor checkpoints, IN-list
    collects) while the corpus tables are still cheap to scan.  The
    crossover is where corpus scan+join cost exceeds those fixed jobs
    (corpus ≫ batch — the actual production regime); what this soak
    pins is correctness and pruning power at 10×, not a toy-scale win."""
    import time

    from extended_rabitq_spark.operators import bloom, dedup

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n = docs.count()
    reps = [docs.select(
        (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"), "text"
    ) for i in range(10)]
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    big = big.persist()
    assert big.count() == 10 * n
    import tempfile

    path = tempfile.mkdtemp() + "/art"
    t0 = time.perf_counter()
    dedup.save_dedup_artifacts(big, path)
    t_save = time.perf_counter() - t0
    fresh = spark.range(0, 1000).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.concat(
            F.lit("entirely novel synthetic text block number "),
            F.col("id").cast("string"),
            F.lit(" with deterministic unique filler words abcdef"),
        ).alias("text"),
    )
    clones = big.where(F.col("doc_id") < 500).select(
        (F.col("doc_id") + 60_000_000).alias("doc_id"), "text"
    )
    batch = fresh.unionByName(clones).persist()
    batch.count()
    t0 = time.perf_counter()
    gated = sorted(map(tuple, dedup.incremental_dedup(
        batch, big, artifacts=path).collect()))
    t_gated = time.perf_counter() - t0
    t0 = time.perf_counter()
    ungated = sorted(map(tuple, dedup.incremental_dedup(
        batch, big, artifacts=path, use_bloom=False).collect()))
    t_ungated = time.perf_counter() - t0
    assert gated == ungated
    verdicts = {d: s for d, s, _ in gated}
    for i in range(500):
        assert verdicts[60_000_000 + i] == "exact_dup"
    # measured pruning on the fresh slice
    blooms = bloom.load_blooms(spark, f"{path}/blooms")
    nh = dedup.normalized(fresh, "text").select(
        F.col("doc_id").alias("new_id"), F.md5("_norm").alias("h")
    )
    survivors = bloom.bloom_prefilter(nh, blooms["hashes"], ["h"]).count()
    assert survivors <= 50, survivors  # ≥95% of 1000 pruned
    print(f"bloom soak: save {t_save:.1f}s, gated {t_gated:.1f}s, "
          f"ungated {t_ungated:.1f}s, fresh survivors {survivors}")
    big.unpersist(); batch.unpersist()


@pytest.mark.parametrize("metric", ["l2", "cosine", "ip"])
def test_maintenance_lifecycle_soak(spark, tmp_path_factory, metric):
    """VERDICT r4 item 7: delete_from_index + rebalance_index under every
    metric twin at soak scale (60k vectors, one deliberately hot
    cluster).  Claims: (a) full-probe + exact-rerank search equals exact
    KNN in the index's metric at every lifecycle stage (build → delete
    1% → rebalance), (b) rebalance actually splits and the hottest
    cluster shrinks by ≥25% (a 2-means split of a non-uniform cluster
    is not exactly even; measured 35% on this fixture)."""
    import time

    from extended_rabitq_spark.functions import vector as V
    from extended_rabitq_spark.operators import ivf, knn, rabitq

    Nm, Dm, KCm, NQm = 60_000, 64, 64, 50
    rng = np.random.default_rng(17)
    centers = rng.standard_normal((KCm, Dm)) * 2.0
    # 30% of the mass on one center → max/avg ≈ 19, rebalance must fire
    lab = np.where(rng.random(Nm) < 0.30, 7, rng.integers(0, KCm, Nm))
    X = (centers[lab] + 0.3 * rng.standard_normal((Nm, Dm))).astype(np.float32)
    base = (
        spark.createDataFrame(pd.DataFrame({"id": np.arange(Nm), "vec": list(X)}))
        .select("id", F.col("vec").cast("array<float>").alias("vec"))
        .repartition(16)
        .persist()
    )
    base.count()
    qs = (
        spark.createDataFrame(pd.DataFrame({
            "qid": np.arange(NQm),
            "qvec": list(X[rng.integers(0, Nm, NQm)] + 0.05 * rng.standard_normal((NQm, Dm)).astype(np.float32)),
        }))
        .select("qid", F.col("qvec").cast("array<double>").alias("qvec"))
        .persist()
    )
    qs.count()
    if metric == "l2":
        train = base
    elif metric == "cosine":
        train = base.withColumn("vec", F.expr(V.l2_normalize("vec")))
    else:
        train, _ = rabitq.mips_prepare(base, vec="vec")
    cents = ivf.sampled_kmeans_centroids(train, k=KCm, vec="vec")
    idx, meta = rabitq.build_index(base, cents, total_bits=4, metric=metric)
    path = str(tmp_path_factory.mktemp("soakidx") / f"idx_{metric}")
    rabitq.save_index(idx, cents, meta, path)

    def full_search(current_base):
        codes, cf, m = rabitq.load_index(spark, path)
        return sorted(
            (r.qid, r.rank, r.id)
            for r in rabitq.rabitq_search(
                qs, codes, cf, m, nprobe=cf.count(), k=10,
                refine=None, rerank_base=current_base,
            ).collect()
        )

    def exact(current_base):
        return sorted(
            (r.qid, r.rank, r.id)
            for r in knn.exact_knn(qs, current_base, k=10, metric=metric).collect()
        )

    t0 = time.perf_counter()
    assert full_search(base) == exact(base)
    t_build_check = time.perf_counter() - t0

    # delete 1% (random ids, deterministic choice)
    victims = rng.choice(Nm, size=Nm // 100, replace=False)
    vdf = spark.createDataFrame([(int(v),) for v in victims], "id long")
    n = rabitq.delete_from_index(spark, path, vdf)
    assert n == len(victims)
    survivors = base.join(F.broadcast(vdf), "id", "left_anti").persist()
    survivors.count()
    assert full_search(survivors) == exact(survivors)

    codes = spark.read.parquet(f"{path}/codes")
    stats0 = rabitq.index_stats(codes).collect()[0]
    t0 = time.perf_counter()
    out = rabitq.rebalance_index(spark, path, survivors, max_ratio=1.5)
    t_rebal = time.perf_counter() - t0
    assert out["split"], f"hot cluster must trigger a split: {out}"
    assert out["rows_moved"] > 0
    stats1 = rabitq.index_stats(spark.read.parquet(f"{path}/codes")).collect()[0]
    assert stats1["max_cluster"] <= 0.75 * stats0["max_cluster"], (
        stats0["max_cluster"], stats1["max_cluster"])
    assert float(stats1["imbalance_r"]) < float(stats0["imbalance_r"])
    assert full_search(survivors) == exact(survivors)
    print(f"maintenance soak [{metric}]: parity-check {t_build_check:.1f}s, "
          f"rebalance {t_rebal:.1f}s, max_cluster "
          f"{stats0['max_cluster']}→{stats1['max_cluster']}")
    base.unpersist(); qs.unpersist(); survivors.unpersist()


class TestQuantizedSpectrumSoak:
    """Round-6 additions at the 100k soak scale: the packed binary
    searcher and the persisted IVF-PQ index must hold their contracts
    off the tiny fixture."""

    def test_hamming_rerank_recall_and_packed_twin(self, spark, harness):
        from extended_rabitq_spark.operators import binary, knn

        base, qs, *_ = harness
        sample = qs.limit(25)
        gt = {(r.qid, r.id) for r in knn.exact_knn(sample, base, k=10).collect()}
        rr = {
            (r.qid, r.id)
            for r in binary.hamming_rerank_knn(sample, base, coarse_k=500, k=10).collect()
        }
        # calibrated: 0.888 at coarse_k=500 on this seeded corpus
        # (0.548 at 200 — the 1-bit estimate needs a 50x overfetch here)
        assert len(rr & gt) / len(gt) >= 0.8
        a = sorted(map(tuple, binary.hamming_knn(sample.limit(5), base, k=10).collect()))
        p = sorted(
            map(tuple, binary.hamming_knn_packed(sample.limit(5), base, k=10).collect())
        )
        assert a == p

    def test_ivfpq_saved_index_roundtrip(self, spark, harness, tmp_path):
        import time

        from extended_rabitq_spark.operators import ivf, knn, pq

        base, qs, _, _, _ = harness
        cents = ivf.sampled_kmeans_centroids(base, k=64, vec="vec")
        path = str(tmp_path / "soak_ivfpq")
        t0 = time.time()
        pq.save_ivfpq_index(base, cents, path, m=8, dsub=16)
        build_s = time.time() - t0
        sample = qs.limit(25)
        t0 = time.time()
        res = pq.search_ivfpq_index(
            spark, path, sample, nprobe=16, coarse_k=400, k=10, rerank_base=base
        ).collect()
        search_s = time.time() - t0
        assert len(res) == 250
        gt = {(r.qid, r.id) for r in knn.exact_knn(sample, base, k=10).collect()}
        got = {(r.qid, r.id) for r in res}
        rec = len(got & gt) / len(gt)
        print(f"ivfpq soak: build {build_s:.1f}s search {search_s:.1f}s recall {rec:.3f}")
        # calibrated on this seeded corpus: 0.668 at np16/ck400 (1.0 at
        # np32/ck800 — the probe budget, not the codec, is the limiter)
        assert rec >= 0.6

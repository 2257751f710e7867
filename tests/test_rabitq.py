"""Property + end-to-end tests for the Extended-RaBitQ core (SURVEY §5.2/5.3).

The reference ships no unit tests; its methodology is end-to-end recall /
ratio against exact ground truth (src/test_search.cpp:97-150).  We add the
numpy property tests SURVEY §5.2 calls for, then mirror the reference's
acceptance harness.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from conftest import FITS_ALL, FITS_NONE, broadcast_threshold

from extended_rabitq_spark.operators.rabitq import (
    fast_quantize_batch,
    pad64,
    quantize_rows,
    rotation_matrix,
)

RNG = np.random.default_rng(7)


def _obj(codes: np.ndarray, u: np.ndarray) -> float:
    v = codes + 0.5
    return float((v * u).sum() / math.sqrt((v * v).sum()))


class TestFastQuantize:
    @pytest.mark.parametrize("ex_bits", [1, 2, 3, 7])
    def test_beats_dense_grid(self, ex_bits):
        """Q2's sweep must find a scale at least as good as any t on a
        dense grid (inc/index/Quantizer.hpp:138-219 optimality)."""
        M = 1 << ex_bits
        O = RNG.standard_normal((10, 64))
        O /= np.linalg.norm(O, axis=1, keepdims=True)
        U = np.abs(O)
        codes = fast_quantize_batch(U, ex_bits)
        for i in range(len(U)):
            ours = _obj(codes[i], U[i])
            for t in np.linspace(0.05, 4 * M, 500):
                c = np.minimum(np.floor(t * U[i]), M - 1).clip(0)
                assert ours >= _obj(c, U[i]) - 1e-9

    def test_codes_in_range(self):
        U = np.abs(RNG.standard_normal((50, 64)))
        U /= np.linalg.norm(U, axis=1, keepdims=True)
        for ex_bits in [0, 1, 3]:
            codes = fast_quantize_batch(U, ex_bits)
            assert codes.min() >= 0 and codes.max() <= (1 << ex_bits) - 1

    def test_zero_vector_all_zero_codes(self):
        codes = fast_quantize_batch(np.zeros((1, 64)), 3)
        assert (codes == 0).all()


class TestQuantizeRows:
    def test_estimator_accuracy_by_bits(self):
        """More bits → tighter estimates; B=4 mean relative error < 3%
        (the envelope the published recall/ratio numbers imply)."""
        dim = 64
        D = pad64(dim)
        P = rotation_matrix(D)
        X = RNG.standard_normal((300, dim)) * 0.5
        C = np.zeros((300, dim))
        q = RNG.standard_normal(dim) * 0.5
        qpad = np.zeros(D)
        qpad[:dim] = q
        qr = qpad @ P.T
        y2 = (qr * qr).sum()
        true = ((X - q) ** 2).sum(axis=1)
        prev = None
        for B in [2, 4, 8]:
            out = quantize_rows(X, C, P, total_bits=B)
            M = 1 << (B - 1)
            s = out["code"].astype(np.float64) + 0.5 - M
            est = out["x2"] + y2 - out["f_ip_ex"] * (s @ qr)
            rel = float(np.mean(np.abs(est - true) / np.maximum(true, 1e-9)))
            if prev is not None:
                assert rel < prev * 0.9, f"B={B} not tighter than fewer bits"
            prev = rel
            if B == 4:
                assert rel < 0.03
        assert prev < 0.002  # B=8 sub-0.2%

    def test_combined_code_sign_structure(self):
        """Combined code ≥ 2^(B−1) ⟺ rotated-residual component > 0
        (Q1+Q3, inc/index/Quantizer.hpp:356-361,480-485)."""
        dim = 64
        D = pad64(dim)
        P = rotation_matrix(D)
        X = RNG.standard_normal((20, dim))
        C = np.zeros((20, dim))
        out = quantize_rows(X, C, P, total_bits=4)
        R = (np.pad(X, ((0, 0), (0, D - dim))) @ P.T)
        assert ((out["code"] >= 8) == (R > 0)).all()

    def test_rotation_deterministic_and_orthonormal(self):
        P1, P2 = rotation_matrix(128, 42), rotation_matrix(128, 42)
        assert (P1 == P2).all()
        assert np.allclose(P1 @ P1.T, np.eye(128), atol=1e-10)
        assert not (rotation_matrix(128, 43) == P1).all()


@pytest.mark.usefixtures("spark")
class TestEndToEnd:
    def test_recall_vs_exact_ivf(self, spark):
        """Acceptance: quantized search at B=4 recovers ≥90% of what the
        exact scan over the same probed clusters finds (the quantizer only
        reorders within probes; src/test_search.cpp:190-196 treats
        recall as the gate)."""
        from conftest import SF_T2
        from extended_rabitq_spark.registry import QUERIES

        rec_rabitq = {
            r["qid"]: r["recall"] for r in QUERIES["rabitq_recall"](spark, SF_T2).collect()
        }
        rec_ivf = {
            r["qid"]: r["recall"] for r in QUERIES["ivf_recall"](spark, SF_T2).collect()
        }
        assert rec_rabitq.keys() == rec_ivf.keys()
        mean_rq = sum(rec_rabitq.values()) / len(rec_rabitq)
        mean_ivf = sum(rec_ivf.values()) / len(rec_ivf)
        assert mean_rq >= 0.9 * mean_ivf, (mean_rq, mean_ivf)


@pytest.mark.usefixtures("spark")
class TestCosineMetric:
    def test_cosine_via_normalized_l2(self, spark):
        """The reference reduces cosine to L2 by pre-normalizing rows
        (python/utils/preprocess.py:3-5).  Verify: L2 ranking on
        normalized vectors == direct cosine ranking."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.functions import vector as V
        from extended_rabitq_spark.operators import knn

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        norm = emb.select(
            "vec_id", F.expr(V.l2_normalize("embedding")).alias("nv"), "label"
        )
        base_n = norm.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("nv").alias("vec")
        )
        q_n = norm.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("nv").alias("qvec")
        )
        via_l2 = {
            (r.qid, r.rank): r.id for r in knn.exact_knn(q_n, base_n, k=10).collect()
        }
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        direct = {
            (r.qid, r.rank): r.id
            for r in knn.exact_knn(qs, base, k=10, metric="cosine").collect()
        }
        assert via_l2 == direct


class TestIncrementalIndex:
    def test_append_equals_full_build(self, spark, tmp_path):
        """Index built on 80% + appended 20% must answer queries exactly
        like the index built on 100% in one shot (same centroids)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        allb = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        part1 = allb.where(F.col("id") < 400)
        part2 = allb.where(F.col("id") >= 400)
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        pa_, pb = str(tmp_path / "inc"), str(tmp_path / "full")
        idx1, meta = rabitq.build_index(part1, cents, total_bits=4)
        rabitq.save_index(idx1, cents, meta, pa_)
        rabitq.append_to_index(part2, pa_)
        idx_full, meta2 = rabitq.build_index(allb, cents, total_bits=4)
        rabitq.save_index(idx_full, cents, meta2, pb)
        c1, cf1, m1 = rabitq.load_index(spark, pa_)
        c2, cf2, m2 = rabitq.load_index(spark, pb)
        assert c1.count() == c2.count() == 490
        r1 = {(r.qid, r.rank): r.id for r in rabitq.rabitq_search(queries, c1, cf1, m1, 3, 10).collect()}
        r2 = {(r.qid, r.rank): r.id for r in rabitq.rabitq_search(queries, c2, cf2, m2, 3, 10).collect()}
        assert r1 == r2


class TestSampledKMeans:
    def test_deterministic_and_quality(self, spark):
        """A2 fast path: sample-trained Lloyd's must be seed-deterministic
        and reduce within-cluster SSE vs a random assignment (faiss-style
        subsample training, python/ivf.py:26-29)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        c1 = ivf.sampled_kmeans_centroids(emb, k=8, sample_size=400, iters=5)
        c2 = ivf.sampled_kmeans_centroids(emb, k=8, sample_size=400, iters=5)
        r1 = sorted((r.cluster_id, tuple(r.centroid)) for r in c1.collect())
        r2 = sorted((r.cluster_id, tuple(r.centroid)) for r in c2.collect())
        assert r1 == r2 and len(r1) == 8
        base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        assigned = ivf.assign_clusters(base, c1)
        # every vector got exactly one cluster; >1 cluster actually used
        assert assigned.count() == base.count()
        used = assigned.select("cluster_id").distinct().count()
        assert used > 1
        # SSE of trained centroids beats the global-mean (k=1) SSE
        one = ivf.sampled_kmeans_centroids(emb, k=1, sample_size=400, iters=1)
        from extended_rabitq_spark.operators.knn import distance_col

        def sse(cent):
            a = ivf.assign_clusters(base, cent).join(F.broadcast(cent), "cluster_id")
            return a.select(
                distance_col("l2", "vec", "centroid").alias("d")
            ).agg(F.sum("d")).first()[0]

        assert sse(c1) < sse(one)


class TestExactRerank:
    def test_rerank_matches_exact_ivf(self, spark):
        """E4 path: with refine covering every candidate, the exact
        re-rank over raw vectors must reproduce ivf_search exactly
        (same probes, same distances, same tie-break)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        idx, meta = rabitq.build_index(base, cents, total_bits=4)
        P = rabitq.rotation_matrix(meta["D"], meta["seed"])
        import numpy as np

        cents_full = spark.createDataFrame(
            [
                (int(r["cluster_id"]), [float(x) for x in r["centroid"]],
                 [float(x) for x in (np.pad(np.array(r["centroid"]), (0, meta["D"] - meta["dim"])) @ P.T)])
                for r in cents.collect()
            ],
            "cluster_id int, centroid array<double>, centroid_rot array<double>",
        )
        got = {
            (r.qid, r.rank): (r.id, round(r.est_dist, 9))
            for r in rabitq.rabitq_search(
                queries, idx, cents_full, meta, nprobe=3, k=10,
                refine=10_000, rerank_base=base,
            ).collect()
        }
        indexed = idx.select("cluster_id", "id").join(base, on="id")
        want = {
            (r.qid, r.rank): (r.id, round(r.dist, 9))
            for r in ivf.ivf_search(queries, indexed, cents, nprobe=3, k=10).collect()
        }
        assert got == want and len(got) == 100

    def test_kernel_matches_sql_fold_on_edge_rows(self, spark):
        """The Arrow rerank kernel, with the query vector in the row (the
        shuffle route) and from the driver broadcast (the broadcast
        route), returns distance_col('l2', qvec, vec, dim) on every edge
        row: NULL for a NULL or short vector, the first dim coordinates
        of a long one, IEEE NaN and inf (not NULL)."""
        from extended_rabitq_spark.operators import rabitq
        from extended_rabitq_spark.operators.knn import distance_col

        dim = 4
        q = [0.5, -1.25, 2.0, 3.0]
        vecs = {
            10: [1.0, 2.0, -3.5, 0.25],  # normal
            20: None,  # NULL vector
            30: [1.0, 2.0, 3.0],  # shorter than dim
            40: [1.0, 2.0, -3.5, 0.25, 99.0],  # longer than dim
            50: [1.0, float("nan"), 3.0, 4.0],
            60: [1.0, float("inf"), 3.0, 4.0],
        }
        rows = [(i, i * 10, q, v) for i, v in enumerate(vecs.values(), 1)]
        df = spark.createDataFrame(
            rows, "qid long, id long, qvec array<float>, vec array<float>"
        )
        want = {
            (r.qid, r.id): r.d
            for r in df.select(
                "qid", "id", distance_col("l2", "qvec", "vec", dim).alias("d")
            ).collect()
        }
        fold = 0.0
        for a, b in zip(q, vecs[10]):
            fold += (a - b) * (a - b)
        assert want[(1, 10)] == want[(4, 40)] == fold
        assert want[(2, 20)] is None and want[(3, 30)] is None
        assert math.isnan(want[(5, 50)]) and want[(6, 60)] == math.inf
        queries = spark.sparkContext.broadcast(
            rabitq._driver_queries([(r[0], r[2]) for r in rows], dim)
        )
        for got in (
            rabitq._exact_rerank(df, dim),
            rabitq._exact_rerank(df.drop("qvec"), dim, queries),
        ):
            got = {(r.qid, r.id): r.est_dist for r in got.collect()}
            assert got.keys() == want.keys()
            for key in want:
                assert repr(got[key]) == repr(want[key]), key

    def test_driver_queries_arrow_equals_rows(self, spark):
        """The batch collected as Arrow (``toArrow``) and the same batch
        as caller rows (``collect``) convert to bitwise the same qids,
        Q and ok — NULL, short, long, NULL-coordinate, NaN and inf rows
        included, for float and double vectors."""
        from extended_rabitq_spark.operators import rabitq

        nan, inf = float("nan"), float("inf")
        rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, None), (3, [1.0, 2.0]),
                (4, [nan, 1.0, 2.0, 3.0]), (5, [1.0, None, 3.0, 4.0]),
                (6, [1.5, 2.5, 3.5, 4.5, 5.5]), (7, [inf, -0.0, 1e-30, 3.0]),
                (8, [])]
        for typ in ("float", "double"):
            df = spark.createDataFrame(rows, f"qid long, qvec array<{typ}>")
            got = rabitq._driver_queries(df.toArrow(), 4)
            want = rabitq._driver_queries(df.collect(), 4)
            assert got[0].tolist() == list(range(1, 9))
            assert got[2].tolist() == [True, False, False, True, False, True, True, False]
            for g, w in zip(got, want):
                assert g.dtype == w.dtype and g.tobytes() == w.tobytes(), typ

    def test_reranked_plan_shuffles_no_vectors(self, spark):
        """A reranked search on the broadcast routes computes the exact
        distance map-side: no exchange in its plan carries an array."""
        from extended_rabitq_spark.plans import inspect as I

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        res = _search_at(spark, FITS_ALL, qs, idx, cents_full, meta,
                         nprobe=3, k=5, refine=4, rerank_base=base)
        assert "MapInArrow" in I.plan_tree(res)
        exchanges = I.exchange_column_types(res)
        assert ("Exchange", ["bigint", "bigint", "double"]) in exchanges
        for name, types in exchanges:
            assert not any(t.startswith("array") for t in types), (name, types)
        idx.unpersist()


class TestCompaction:
    def test_compact_preserves_results_reduces_files(self, spark, tmp_path):
        import glob

        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        allb = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        path = str(tmp_path / "idx")
        idx, meta = rabitq.build_index(allb.where(F.col("id") < 300), cents, total_bits=4)
        rabitq.save_index(idx, cents, meta, path)
        # two appends → extra files in touched partitions
        rabitq.append_to_index(allb.where((F.col("id") >= 300) & (F.col("id") < 400)), path)
        rabitq.append_to_index(allb.where(F.col("id") >= 400), path)
        n_files_before = len(glob.glob(f"{path}/codes/cluster_id=*/*.parquet"))
        c, cf, m = rabitq.load_index(spark, path)
        before = {
            (r.qid, r.rank): r.id
            for r in rabitq.rabitq_search(queries, c, cf, m, 3, 10).collect()
        }
        rabitq.compact_index(spark, path)
        n_files_after = len(glob.glob(f"{path}/codes/cluster_id=*/*.parquet"))
        c2, cf2, m2 = rabitq.load_index(spark, path)
        after = {
            (r.qid, r.rank): r.id
            for r in rabitq.rabitq_search(queries, c2, cf2, m2, 3, 10).collect()
        }
        assert after == before and len(after) == 100
        n_clusters = c2.select("cluster_id").distinct().count()
        assert n_files_after == n_clusters < n_files_before


class TestFilteredIVF:
    def test_semi_filter_composes_with_ivf_search(self, spark):
        """knn_filtered's docstring claim: the metadata semi-join composes
        in front of ivf_search unchanged, and equals exact KNN over the
        filtered base when every cluster is probed."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, knn

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        keep = docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("id"))
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        ).join(keep, on="id", how="left_semi")
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        nclusters = cents.count()
        indexed = ivf.assign_clusters(base, cents)
        got = {
            (r.qid, r.rank): r.id
            for r in ivf.ivf_search(queries, indexed, cents, nprobe=nclusters, k=10).collect()
        }
        want = {
            (r.qid, r.rank): r.id for r in knn.exact_knn(queries, base, k=10).collect()
        }
        assert got == want and len(got) == 100


class TestMLlibKMeans:
    def test_kmeans_centroids_end_to_end(self, spark):
        """A2 production path: MLlib k-means centroids feed the same
        assignment + index build pipeline (seed-deterministic)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        c1 = ivf.kmeans_centroids(emb, k=8, max_iter=5)
        c2 = ivf.kmeans_centroids(emb, k=8, max_iter=5)
        r1 = sorted((r.cluster_id, tuple(round(x, 9) for x in r.centroid)) for r in c1.collect())
        r2 = sorted((r.cluster_id, tuple(round(x, 9) for x in r.centroid)) for r in c2.collect())
        assert r1 == r2 and len(r1) == 8
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        idx, meta = rabitq.build_index(base, c1, total_bits=4)
        assert idx.count() == base.count()
        assert idx.select("cluster_id").distinct().count() > 1


class TestArrowAssignment:
    def test_combined_equals_declarative(self, spark):
        """J2 scale path ≡ declarative argmin join, row for row (ties →
        lowest cluster_id on both)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        cents = ivf.label_centroids(emb)
        a = {r.id: r.cluster_id for r in ivf.assign_clusters(base, cents).collect()}
        b = {r.id: r.cluster_id for r in ivf.assign_clusters_combined(base, cents).collect()}
        assert a == b and len(a) == 500


class TestHierProbes:
    def test_full_coarse_probe_equals_exact(self, spark):
        """W2 analog degenerates to exact W1 when every coarse group is
        probed — same (qid, probe_rank, cluster_id) triples, both
        grouping modes."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        exact = sorted(
            (r.qid, r.probe_rank, r.cluster_id)
            for r in ivf.select_probes(qs, cents, 3).collect()
        )
        for mode in ("mod", "kmeans"):
            hier = sorted(
                (r.qid, r.probe_rank, r.cluster_id)
                for r in ivf.select_probes_hier(
                    qs, cents, 3, n_coarse=4, coarse_probe=4, mode=mode
                ).collect()
            )
            assert hier == exact, mode

    def test_kmeans_grouping_probe_recall(self, spark):
        """Approximate mode (coarse_probe < n_coarse) with geometric
        (kmeans) grouping keeps high probe recall vs exact W1."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        exact = {}
        for r in ivf.select_probes(qs, cents, 2).collect():
            exact.setdefault(r.qid, set()).add(r.cluster_id)
        hier = {}
        for r in ivf.select_probes_hier(
            qs, cents, 2, n_coarse=4, coarse_probe=2, mode="kmeans"
        ).collect():
            hier.setdefault(r.qid, set()).add(r.cluster_id)
        hits = sum(len(exact[q] & hier.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= 0.7, (hits, total)


class TestIndexStats:
    def test_stats_consistent_with_index(self, spark):
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        idx, _ = rabitq.build_index(base, ivf.label_centroids(emb.where(F.col("vec_id") >= 10)))
        r = rabitq.index_stats(idx).first()
        assert r.n_rows == base.count() and r.n_clusters == 10
        assert r.min_cluster <= r.avg_cluster_r <= r.max_cluster
        assert abs(r.imbalance_r - r.max_cluster / r.avg_cluster_r) < 1e-6


class TestArrowScorer:
    def test_arrow_scorer_matches_sql_scorer(self, spark):
        """The cluster-batched BLAS scorer must produce the same ranking
        as the declarative SQL scorer (distances agree to float-matmul
        tolerance; ranks identical on tie-free fixture data)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        idx, meta = rabitq.build_index(base, cents, total_bits=4)
        idx = idx.persist()
        cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
        a = rabitq.rabitq_search(qs, idx, cents_full, meta, nprobe=3, k=10)
        s = _sql_search(qs, idx, cents_full, meta, nprobe=3, k=10)
        arows = {(r.qid, r.rank): (r.id, r.est_dist) for r in a.collect()}
        srows = {(r.qid, r.rank): (r.id, r.est_dist) for r in s.collect()}
        assert set(arows) == set(srows) and len(arows) == 100
        for k_, (aid, ad) in arows.items():
            sid, sd = srows[k_]
            assert aid == sid, k_
            assert abs(ad - sd) <= 1e-9 * max(1.0, abs(sd)), k_
        idx.unpersist()


def _search_fixture(spark):
    """(base, queries, idx, cents_full, meta) from the sf0.001 embeddings."""
    import pyspark.sql.functions as F

    from conftest import SF_SMOKE
    from extended_rabitq_spark.operators import ivf, rabitq

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
    idx, meta = rabitq.build_index(base, cents, total_bits=4)
    cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
    return base, qs, idx.persist(), cents_full, meta


def _res_map(df):
    return {(r.qid, r.rank): (r.id, r.est_dist) for r in df.collect()}


def _search_at(spark, threshold, *args, **kw):
    """rabitq_search planned under broadcast threshold ``threshold``."""
    from extended_rabitq_spark.operators import rabitq

    with broadcast_threshold(spark, threshold):
        return rabitq.rabitq_search(*args, **kw)


def _sql_search(qs, idx, cents_full, meta, nprobe, k, refine=4,
                rerank_base=None, estimator="searcher"):
    """The declarative reference search: _sql_scored + the shared phase 2."""
    from extended_rabitq_spark.operators import rabitq

    q, rb = rabitq._prepare_search_inputs(qs, rerank_base, meta)
    scored = rabitq._sql_scored(q, idx, cents_full, meta, nprobe, estimator)
    return rabitq._finalize_topk(scored, q, k, refine, rb, dim=int(meta["dim"]))


def _assert_rank_identical(a, b, tol=1e-9):
    assert set(a) == set(b) and len(a) > 0
    for key, (aid, ad) in a.items():
        bid, bd = b[key]
        assert aid == bid, key
        assert abs(ad - bd) <= tol * max(1.0, abs(bd)), key


class TestSearchPlanner:
    def test_routes_follow_sizes(self):
        """_plan_search (Spark-free) on the shapes the engine serves, at
        Spark's default 10 MB broadcast threshold: (broadcast scorer,
        broadcast rerank)."""
        from extended_rabitq_spark.operators.rabitq import _plan_search

        T = 10 * 1024 * 1024
        d128 = {"D": 128, "dim": 128}
        d64 = {"D": 64, "dim": 64}
        # benchmark ann_batch (1000 q) and ingest_mixed (200 q): np8, k10, refine 4
        assert _plan_search(1000, 8, d128, 40, T) == (True, True)
        assert _plan_search(200, 8, d128, 40, T) == (True, True)
        # bench.py: 500 and 1990 queries at np3/np6, no rerank
        for nq in (500, 1990):
            for nprobe in (3, 6):
                assert _plan_search(nq, nprobe, d64, None, T) == (True, False)
        # dedup_embedding_ann: every vector queries K=16 clusters, k=22
        assert _plan_search(500, 16, d64, 88, T) == (True, True)  # sf0.01
        assert _plan_search(2000, 16, d64, 88, T) == (False, True)  # sf0.1
        assert _plan_search(10**6, 16, d64, 88, T) == (False, False)
        # the boundary is inclusive: nq·nprobe·(8·D + 24) ≤ T
        assert _plan_search(T // 1048, 1, d128, None, T).broadcast_scorer
        assert not _plan_search(T // 1048 + 1, 1, d128, None, T).broadcast_scorer
        # injected probes always take the cogroup scorer
        assert _plan_search(10, 3, d64, 40, T, probes_injected=True) == (False, True)
        # T = -1 never broadcasts
        assert _plan_search(1, 1, d64, 40, -1) == (False, False)

    def test_counts_queries_only_when_a_rule_needs_them(self):
        """A callable nq (the count() job) runs at most once, and not at
        all when no rule reads it; query_rows callers pass len(rows)."""
        from extended_rabitq_spark.operators.rabitq import _plan_search

        calls = []

        def count():
            calls.append(1)
            return 10

        d64 = {"D": 64, "dim": 64}
        assert _plan_search(count, 3, d64, 40, 1 << 20) == (True, True)
        assert len(calls) == 1
        assert _plan_search(count, 3, d64, None, 1 << 20, probes_injected=True) == (
            False, False
        )
        assert _plan_search(count, 3, d64, 40, -1) == (False, False)
        assert len(calls) == 1
        rows = [(q, [0.0] * 64) for q in range(10)]
        assert _plan_search(len(rows), 3, d64, 40, 1 << 20) == (True, True)


class TestProbeOrder:
    def test_blocked_fold_equals_unblocked_lexsort(self):
        """_probe_order's cache-blocked fold is bitwise the plain
        left-to-right fold: the same probe order as a lexsort over
        _l2_fold, ties (duplicate centroids) to the lowest cluster_id, for
        a query count that is no multiple of the block, for K above the
        block budget (one query per block) and for take > K."""
        from extended_rabitq_spark.operators.rabitq import (
            _PROBE_BLOCK,
            _l2_fold,
            _probe_order,
        )

        rng = np.random.default_rng(5)
        for nq, K, dim, take in (
            (1001, 64, 24, 8),
            (37, 20, 9, 25),
            (3, _PROBE_BLOCK + 7, 4, 6),
        ):
            Q = rng.standard_normal((nq, dim)).astype(np.float32).astype(np.float64)
            cmat = rng.standard_normal((K, dim)).astype(np.float32).astype(np.float64)
            cmat[K // 2] = cmat[1]  # exact ties
            cmat[K - 1] = cmat[0]
            cids = rng.permutation(K) * 3 + 1
            ref = np.lexsort(
                (np.broadcast_to(cids, (nq, K)), _l2_fold(Q[:, None], cmat[None])),
                axis=1,
            )[:, :min(take, K)]
            assert np.array_equal(_probe_order(Q, cmat, cids, take), ref), (nq, K)


class TestCogroupScorer:
    def test_cogroup_matches_broadcast_nq5000(self, spark):
        """VERDICT r1 #1 done-criterion: the driver-unbounded cogroup
        scorer is rank-identical to the broadcast scorer at NQ=5000."""
        import numpy as np
        import pyspark.sql.functions as F

        base, _, idx, cents_full, meta = _search_fixture(spark)
        rng = np.random.default_rng(11)
        dim = meta["dim"]
        big_q = spark.createDataFrame(
            [(int(i), [float(x) for x in rng.standard_normal(dim)]) for i in range(5000)],
            "qid long, qvec array<float>",
        ).repartition(8)
        a = _search_at(spark, FITS_ALL, big_q, idx, cents_full, meta, nprobe=3, k=5)
        c = _search_at(spark, FITS_NONE, big_q, idx, cents_full, meta, nprobe=3, k=5)
        am, cm = _res_map(a), _res_map(c)
        assert len(am) == 5000 * 5
        _assert_rank_identical(am, cm, tol=1e-6)  # float64 matmul assoc noise
        idx.unpersist()

    def test_sweep_matches_per_point_search(self, spark):
        """rabitq_search_sweep (ONE scored pool at max nprobe, tagged by
        probe_rank) must be row-identical to standalone rabitq_search at
        every grid point — with the refine cut AND exact rerank engaged,
        on both Arrow scorers and both rerank routes."""
        from extended_rabitq_spark.operators import rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        for threshold in (FITS_ALL, FITS_NONE):
            with broadcast_threshold(spark, threshold):
                res, scored_pool = rabitq.rabitq_search_sweep(
                    qs, idx, cents_full, meta, nprobes=[2, 4], k=5,
                    refine=4, rerank_base=base,
                )
            for np_ in (2, 4):
                single = _search_at(
                    spark, threshold, qs, idx, cents_full, meta, nprobe=np_,
                    k=5, refine=4, rerank_base=base,
                )
                _assert_rank_identical(
                    _res_map(res[np_]), _res_map(single), tol=1e-9
                )
            scored_pool.unpersist()
        idx.unpersist()

    def test_cogroup_plan_has_no_driver_query_collect(self, spark):
        """The query side must appear INSIDE the plan (cogroup node over
        the probe-prep subtree), not as a driver-collected broadcast."""
        from extended_rabitq_spark.plans import inspect as I

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        res = _search_at(spark, FITS_NONE, qs, idx, cents_full, meta, nprobe=3, k=10)
        plan = I.physical_plan(res)
        assert "FlatMapCoGroupsInPandas" in plan
        # probe selection (fused map-only query prep, r11) is part of the
        # same plan — and the W1 probe window it replaced (ordered by the
        # cdist column) is GONE from the query side
        assert "MapInPandas" in plan
        assert "cdist" not in plan
        idx.unpersist()

    def test_fused_qprobe_bitwise_matches_declarative_chain(self, spark):
        """_fused_qprobe (r11: rotate+probe+residual in ONE Arrow pass)
        must reproduce the r10 declarative chain — select_probes'
        unrolled-fold probe order and zip_with(qrot, centroid_rot)
        residuals — BITWISE, at full probes and at nprobe < K."""
        import pyspark.sql.functions as F

        from extended_rabitq_spark.operators import rabitq
        from extended_rabitq_spark.operators.ivf import select_probes

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        for nprobe, full in ((3, False), (99, True)):
            fused, fused_full = rabitq._fused_qprobe(qs, cents_full, meta, nprobe)
            assert fused_full == full
            qrot = rabitq.rotate_queries(qs, meta)
            if full:
                old = qrot.crossJoin(
                    F.broadcast(cents_full.select("cluster_id", "centroid_rot"))
                )
            else:
                probes = select_probes(
                    qs, cents_full.select("cluster_id", "centroid"), nprobe,
                    dim=int(meta["dim"]),
                ).select("qid", "cluster_id")
                old = probes.join(qrot, on="qid").join(
                    F.broadcast(cents_full.select("cluster_id", "centroid_rot")),
                    on="cluster_id",
                )
            old = old.select(
                "qid", "cluster_id",
                F.expr("zip_with(qrot, centroid_rot, (a, b) -> a - b)").alias("qr"),
            )
            f = {(r.qid, r.cluster_id): tuple(r.qr) for r in fused.collect()}
            o = {(r.qid, r.cluster_id): tuple(r.qr) for r in old.collect()}
            assert f == o and len(f) > 0, f"nprobe={nprobe} full={full}"
        idx.unpersist()

    def test_scorers_share_probe_lists(self, spark):
        """Both Arrow scorers probe the same clusters in the same order
        as ivf.select_probes' SQL window (the probe_rank each candidate
        carries, mapped to its cluster)."""
        from extended_rabitq_spark.operators import rabitq
        from extended_rabitq_spark.operators.ivf import select_probes

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        nprobe = 5
        clusters = idx.select("id", "cluster_id")
        lists = []
        for threshold in (FITS_ALL, FITS_NONE):
            with broadcast_threshold(spark, threshold):
                scored, _ = rabitq._scored_candidates(
                    qs, idx, cents_full, meta, nprobe, "searcher",
                    with_probe_rank=True,
                )
            lists.append(sorted(
                tuple(r) for r in scored.join(clusters, on="id")
                .select("qid", "probe_rank", "cluster_id").distinct().collect()
            ))
        sql = select_probes(
            qs, cents_full.select("cluster_id", "centroid"), nprobe,
            dim=int(meta["dim"]),
        ).join(clusters.select("cluster_id").distinct(), on="cluster_id")
        sql = sorted(tuple(r) for r in sql.select("qid", "probe_rank", "cluster_id").collect())
        assert lists[0] == lists[1] == sql and len(sql) == 10 * nprobe
        idx.unpersist()

    def test_rerank_routes_identical(self, spark):
        """The shuffle rerank (the queries=corpus scale route) must
        be row-identical to the broadcast rerank.  Both runs take the
        cogroup scorer: a threshold of exactly the rerank's bytes fits
        the rerank but not the scorer's residual rows."""
        from extended_rabitq_spark.operators import rabitq
        from extended_rabitq_spark.plans import inspect as I

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        nq, nprobe, k, refine = 10, 3, 5, 4
        rerank_only = nq * (8 * meta["dim"] + 16 * refine * k)
        assert rabitq._plan_search(nq, nprobe, meta, refine * k, rerank_only) == (
            False, True
        )
        assert rabitq._plan_search(nq, nprobe, meta, refine * k, FITS_NONE) == (
            False, False
        )
        kw = dict(nprobe=nprobe, k=k, refine=refine, rerank_base=base)
        bc = _search_at(spark, rerank_only, qs, idx, cents_full, meta, **kw)
        sh = _search_at(spark, FITS_NONE, qs, idx, cents_full, meta, **kw)
        for df in (bc, sh):
            assert "FlatMapCoGroupsInPandas" in I.physical_plan(df)
        _assert_rank_identical(_res_map(bc), _res_map(sh), tol=0.0)
        idx.unpersist()

    def test_auto_routing_by_batch_size(self, spark):
        """The planner sends a batch whose residual rows fit the broadcast
        threshold to the broadcast scorer and any other to the cogroup
        scorer; both produce the same results."""
        from extended_rabitq_spark.plans import inspect as I

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        small = _search_at(spark, FITS_ALL, qs, idx, cents_full, meta, nprobe=3, k=10)
        forced_cg = _search_at(spark, FITS_NONE, qs, idx, cents_full, meta,
                               nprobe=3, k=10)
        assert "FlatMapCoGroupsInPandas" not in I.physical_plan(small)
        assert "FlatMapCoGroupsInPandas" in I.physical_plan(forced_cg)
        _assert_rank_identical(_res_map(small), _res_map(forced_cg), tol=1e-6)
        idx.unpersist()

    def test_broadcast_scorer_semi_joins_only_a_probed_subset(self, spark):
        """The broadcast scorer scans the codes without the probed-cluster
        semi-join when the batch probes every cluster — row-identical to
        the cogroup scorer — and keeps it for a batch that probes a
        subset."""
        from extended_rabitq_spark.plans import inspect as I

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        K = cents_full.count()
        kw = dict(nprobe=K, k=5, refine=None, rerank_base=base)
        bc = _search_at(spark, FITS_ALL, qs, idx, cents_full, meta, **kw)
        cg = _search_at(spark, FITS_NONE, qs, idx, cents_full, meta, **kw)
        plan = I.physical_plan(bc)
        assert "FlatMapCoGroupsInPandas" not in plan
        assert "LeftSemi" not in plan
        assert "FlatMapCoGroupsInPandas" in I.physical_plan(cg)
        _assert_rank_identical(_res_map(bc), _res_map(cg), tol=0.0)
        sub = _search_at(spark, FITS_ALL, qs.where("qid < 2"), idx, cents_full,
                         meta, nprobe=1, k=5)
        plan = I.physical_plan(sub)
        assert "FlatMapCoGroupsInPandas" not in plan
        assert "LeftSemi" in plan
        idx.unpersist()

    def test_code_rows_without_a_centroid_are_skipped(self, spark):
        """A code row whose cluster_id has no centroid, alone in its
        partition, changes no result on either scorer — with the codes
        semi-join (a probed subset) and without it (every cluster
        probed)."""
        import pyspark.sql.functions as F

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        orphan = idx.limit(1).withColumn(
            "cluster_id", F.lit(10**6).cast(idx.schema["cluster_id"].dataType)
        )
        with_orphan = idx.unionByName(orphan)
        for threshold in (FITS_ALL, FITS_NONE):
            for nprobe in (3, 64):
                kw = dict(nprobe=nprobe, k=5, refine=4, rerank_base=base)
                plain = _search_at(spark, threshold, qs, idx, cents_full, meta, **kw)
                got = _search_at(spark, threshold, qs, with_orphan, cents_full,
                                 meta, **kw)
                _assert_rank_identical(_res_map(got), _res_map(plain), tol=0.0)
        idx.unpersist()

    def test_counts_only_a_batch_without_a_known_row_count(self, spark, monkeypatch):
        """nq comes from Spark's plan statistics for a materialized cached
        batch (no count() job), and from exactly one count() for a
        filtered union of it; both searches return the rows of the same
        batch passed as query_rows."""
        from extended_rabitq_spark.operators import rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        cached = qs.persist()
        cached.count()
        kw = dict(nprobe=3, k=5, refine=4, rerank_base=base)
        counts = []
        count = type(cached).count

        def counting(df):
            counts.append(1)
            return count(df)

        monkeypatch.setattr(type(cached), "count", counting)
        unioned = cached.where("qid < 4").unionByName(cached.where("qid >= 4"))
        for batch, n_counts in ((cached, 0), (unioned, 1)):
            counts.clear()
            got = rabitq.rabitq_search(batch, idx, cents_full, meta, **kw)
            assert len(counts) == n_counts
            rows = [(r.qid, list(r.qvec)) for r in batch.collect()]
            ref = rabitq.rabitq_search(batch, idx, cents_full, meta,
                                       query_rows=rows, **kw)
            _assert_rank_identical(_res_map(got), _res_map(ref), tol=0.0)
        cached.unpersist()
        idx.unpersist()

    def test_broadcast_scorer_arithmetic_is_pinned(self, spark):
        """The broadcast scorer's candidates are bitwise a numpy reference:
        per probed cluster, the queries probing it in ascending order,
        (qpad − cpad) @ P.T and _score_cluster_np against the cluster's
        codes — (qid, id, est_dist, est_lb, probe_rank) at tol 0.0, for
        both estimators."""
        from extended_rabitq_spark.operators import rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        D, dim, nprobe = meta["D"], meta["dim"], 3
        P = rabitq.rotation_matrix(D, meta["seed"])
        cent = cents_full.select("cluster_id", "centroid").collect()
        cids = np.array([r[0] for r in cent])
        cpad = np.zeros((len(cent), D))
        cpad[:, :dim] = [r[1] for r in cent]
        qids, Q, _ = rabitq._driver_queries(qs.toArrow(), dim)
        qpad = np.zeros((len(Q), D))
        qpad[:, :dim] = Q
        order = rabitq._probe_order(Q, cpad[:, :dim], cids, nprobe)
        codes = {}
        for r in idx.collect():
            codes.setdefault(r.cluster_id, []).append(r)
        for estimator in ("searcher", "high_acc"):
            want = {}
            for c in range(len(cids)):
                qi, rank = np.nonzero(order == c)
                rows = codes.get(int(cids[c]))
                if len(qi) == 0 or rows is None:
                    continue
                QR = (qpad[qi] - cpad[c]) @ P.T
                S = np.array([r.code for r in rows], dtype=np.float64) + 0.5 - (
                    1 << (meta["total_bits"] - 1)
                )
                est, lb = rabitq._score_cluster_np(
                    S, np.array([r.x2 for r in rows]),
                    np.array([r.f_ip_ex for r in rows]),
                    np.array([r.f_err for r in rows]),
                    QR, (QR * QR).sum(axis=1), estimator, D,
                )
                for i, r in enumerate(rows):
                    for j, q in enumerate(qi):
                        want[(int(qids[q]), r.id)] = (
                            est[i, j], lb[i, j], int(rank[j]) + 1
                        )
            with broadcast_threshold(spark, FITS_ALL):
                scored, _ = rabitq._scored_candidates(
                    qs, idx, cents_full, meta, nprobe, estimator,
                    with_probe_rank=True,
                )
            got = {
                (r.qid, r.id): (r.est_dist, r.est_lb, r.probe_rank)
                for r in scored.collect()
            }
            assert got == want and len(want) > 0, estimator
        idx.unpersist()

    def test_broadcast_route_ships_the_query_matrix_once(self, spark, monkeypatch):
        """A reranked search on the broadcast routes makes one Spark
        broadcast holding the query matrix, which the scorer and the
        exact rerank share, and no broadcast as large as the batch's
        nq × nprobe × D rotated residuals."""
        from pyspark import SparkContext

        from extended_rabitq_spark.operators import rabitq

        base, _, idx, cents_full, meta = _search_fixture(spark)
        nq, nprobe, dim = 200, 3, meta["dim"]
        rng = np.random.default_rng(3)
        Q = rng.standard_normal((nq, dim))
        qs = spark.createDataFrame(
            [(i, [float(x) for x in Q[i]]) for i in range(nq)],
            "qid long, qvec array<double>",
        )
        payloads = []
        broadcast = SparkContext.broadcast

        def recording(sc, value):
            payloads.append(value)
            return broadcast(sc, value)

        def arrays(obj):
            if isinstance(obj, np.ndarray):
                yield obj
            elif isinstance(obj, (tuple, list)):
                for o in obj:
                    yield from arrays(o)
            elif isinstance(obj, dict):
                for o in obj.values():
                    yield from arrays(o)

        monkeypatch.setattr(SparkContext, "broadcast", recording)
        res = _search_at(spark, FITS_ALL, qs, idx, cents_full, meta,
                         nprobe=nprobe, k=5, refine=4, rerank_base=base)
        assert res.count() == nq * 5
        monkeypatch.undo()
        held = [
            sum(a.size for a in arrays(p) if a.dtype == np.float64)
            for p in payloads
        ]
        assert max(held) < nq * nprobe * meta["D"], held
        with_q = [
            p for p in payloads
            if any(a.shape == Q.shape and (a == Q).all() for a in arrays(p))
        ]
        assert len(with_q) == 1, held
        idx.unpersist()

    def test_cogroup_scorer_takes_raw_centroids(self, spark):
        """Raw (cluster_id, centroid) centroids, which the broadcast scorer
        reads, give the cogroup scorer — with its own probes and with
        injected ones — the rows of the rotated side table."""
        from extended_rabitq_spark.operators.ivf import select_probes

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        raw = cents_full.select("cluster_id", "centroid")
        probes = select_probes(qs, raw, 3, dim=int(meta["dim"]))
        for injected in (None, probes):
            kw = dict(nprobe=3, k=5, refine=4, rerank_base=base, probes=injected)
            rot = _search_at(spark, FITS_NONE, qs, idx, cents_full, meta, **kw)
            got = _search_at(spark, FITS_NONE, qs, idx, raw, meta, **kw)
            _assert_rank_identical(_res_map(got), _res_map(rot), tol=0.0)
        idx.unpersist()

    def test_precollected_centroid_rows_identical(self, spark):
        """The serving-loop knob: rabitq_search(centroid_rows=...) with a
        pre-collected centroid list must be row-identical to the per-call
        collect path (it skips a JOB, not any compute)."""
        from extended_rabitq_spark.operators import rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        rows = cents_full.select("cluster_id", "centroid").collect()
        plain = rabitq.rabitq_search(qs, idx, cents_full, meta, nprobe=3, k=10)
        pre = rabitq.rabitq_search(qs, idx, cents_full, meta, nprobe=3,
                                   k=10, centroid_rows=rows)
        _assert_rank_identical(_res_map(plain), _res_map(pre), tol=0.0)
        idx.unpersist()

    def test_threshold_refine_mode(self, spark):
        """refine_mode='threshold' (the reference's adaptive distk prune,
        Searcher.hpp:217-233, in batch form).  Theorem tested: WITHOUT
        rerank the final ranking is by est_dist and every one of the k
        est-smallest candidates survives the cut (est_lb ≤ est_dist ≤
        dist_k), so the top-k is BITWISE the uncut single-phase result.
        With rerank it must stay within the exact-over-all-candidates
        envelope on the fixture."""
        import pytest as _pytest

        from extended_rabitq_spark.operators import rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        kw = dict(nprobe=4, k=10)
        uncut = rabitq.rabitq_search(qs, idx, cents_full, meta,
                                     refine=None, **kw)
        thr = rabitq.rabitq_search(qs, idx, cents_full, meta,
                                   refine_mode="threshold", **kw)
        _assert_rank_identical(_res_map(uncut), _res_map(thr), tol=0.0)
        # rerank: the threshold cut prunes on a PROBABILISTIC lower bound
        # (exactly like the reference's error-bound prune), so a rare
        # estimate-overshoot can drop a true neighbor — require ≥95%
        # per-query top-k set agreement with the full-pool exact rerank
        uncut_r = rabitq.rabitq_search(qs, idx, cents_full, meta,
                                       refine=None, rerank_base=base, **kw)
        thr_r = rabitq.rabitq_search(qs, idx, cents_full, meta,
                                     refine_mode="threshold",
                                     rerank_base=base, **kw)
        um, tm = _res_map(uncut_r), _res_map(thr_r)
        qids = {q for q, _ in um}
        hits = total = 0
        for q in qids:
            uset = {um[(q, r)][0] for r in range(1, 11)}
            tset = {tm[(q, r)][0] for r in range(1, 11)}
            hits += len(uset & tset)
            total += 10
        assert hits / total >= 0.95, hits / total
        with _pytest.raises(ValueError, match="refine_mode"):
            rabitq.rabitq_search(qs, idx, cents_full, meta,
                                 refine_mode="distk", **kw).collect()
        # amortized sweep path: per-point results identical to standalone
        pool, scored = rabitq.rabitq_search_sweep(
            qs, idx, cents_full, meta, nprobes=[2, 4], k=10,
            refine_mode="threshold",
        )
        standalone = rabitq.rabitq_search(qs, idx, cents_full, meta,
                                          nprobe=2, k=10,
                                          refine_mode="threshold")
        # 1-ulp est drift allowed: the pool scores at max(grid), so BLAS
        # batch shapes differ from the standalone np=2 run
        _assert_rank_identical(_res_map(pool[2]), _res_map(standalone), tol=1e-12)
        scored.unpersist()
        idx.unpersist()

    def test_threshold_stats_attest_active_cut(self, spark):
        """rabitq_threshold_stats (VERDICT r8 item 3): per-query pool /
        survivor counts must agree with the ACTUAL threshold shortlist
        (same _threshold_marked expression), show an ACTIVE cut on the
        fixture (n_kept < n_pool), and respect the ≥ min(k, n_pool)
        survival floor."""
        from extended_rabitq_spark.operators import rabitq
        from extended_rabitq_spark.operators.rabitq import (
            _prepare_search_inputs,
            _scored_candidates,
            _threshold_shortlist,
        )

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        k, nprobe = 10, 4
        stats = {
            r.qid: (r.n_pool, r.n_kept)
            for r in rabitq.rabitq_threshold_stats(
                qs, idx, cents_full, meta, nprobe=nprobe, k=k
            ).collect()
        }
        # independent recount straight off the scored pool + shortlist
        q2 = _prepare_search_inputs(qs, None, meta)[0]
        scored = _scored_candidates(
            q2, idx, cents_full, meta, nprobe, "searcher"
        )[0].persist()
        pool = {r.qid: r.n for r in scored.groupBy("qid").count()
                .withColumnRenamed("count", "n").collect()}
        kept = {r.qid: r.n for r in _threshold_shortlist(scored, k)
                .groupBy("qid").count().withColumnRenamed("count", "n").collect()}
        assert set(stats) == set(pool)
        for q in stats:
            n_pool, n_kept = stats[q]
            assert n_pool == pool[q]
            assert n_kept == kept.get(q, 0)
            assert n_kept >= min(k, n_pool)  # survival floor
            assert n_kept < n_pool, (
                f"cut inactive for qid={q}: kept all {n_pool} candidates"
            )
        scored.unpersist()
        idx.unpersist()

    def test_arrow_rerank_matches_sql_rerank(self, spark):
        """VERDICT r1 #6: exact re-rank now works behind the Arrow paths
        and matches the SQL scorer's re-ranked output exactly."""
        base, qs, idx, cents_full, meta = _search_fixture(spark)
        kw = dict(nprobe=4, k=10, refine=4, rerank_base=base)
        a = _search_at(spark, FITS_ALL, qs, idx, cents_full, meta, **kw)
        c = _search_at(spark, FITS_NONE, qs, idx, cents_full, meta, **kw)
        s = _sql_search(qs, idx, cents_full, meta, **kw)
        am, cm, sm = _res_map(a), _res_map(c), _res_map(s)
        _assert_rank_identical(am, sm, tol=1e-9)  # exact dists: declarative both
        _assert_rank_identical(cm, sm, tol=1e-9)
        idx.unpersist()

    def test_full_probes_fast_path_is_rank_identical(self, spark):
        """Round-4 fast path: at nprobe >= K the cogroup scorer skips
        probe selection and the codes semi-join — the results must be
        identical to the regular cogroup path (the sweep's, which keeps
        probe ranks and so never takes the fast path), and the
        probe-selection window must be gone from the plan."""
        from extended_rabitq_spark.operators import rabitq
        from extended_rabitq_spark.plans import inspect as I

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        for rerank_base in (None, base):  # exact re-rank rides the fast path too
            with broadcast_threshold(spark, FITS_NONE):
                plain, pool = rabitq.rabitq_search_sweep(
                    qs, idx, cents_full, meta, nprobes=[64], k=10, refine=4,
                    rerank_base=rerank_base,
                )
                fast = rabitq.rabitq_search(
                    qs, idx, cents_full, meta, nprobe=64, k=10, refine=4,
                    rerank_base=rerank_base,
                )
            _assert_rank_identical(_res_map(plain[64]), _res_map(fast), tol=1e-9)
            pool.unpersist()
        # W1 window and codes semi-join dropped; cogroup kernel still present
        plan = I.physical_plan(
            _search_at(spark, FITS_NONE, qs, idx, cents_full, meta, nprobe=64,
                       k=10, refine=None)
        )
        assert "FlatMapCoGroupsInPandas" in plan
        assert "LeftSemi" not in plan
        # W1's rank column never appears; the only window left is the
        # final top-k (W3)
        assert "probe_rank" not in plan
        idx.unpersist()


class TestHighAccEstimator:
    def test_ha_rerank_identity_and_lb_transcription(self):
        """Direct numpy transcription of the HASearcher math
        (inc/index/HASearcher.hpp:228-232 re-rank; FastScan.hpp:295-357
        phase-1 bound) must equal _score_cluster_np('high_acc')."""
        import numpy as np

        from extended_rabitq_spark.operators import rabitq

        rng = np.random.default_rng(3)
        dim, B = 48, 4
        D = rabitq.pad64(dim)
        M = 1 << (B - 1)
        P = rabitq.rotation_matrix(D)
        X = rng.standard_normal((40, dim))
        C = np.zeros((40, dim))
        out = rabitq.quantize_rows(X, C, P, total_bits=B)
        S = out["code"].astype(np.float64) + 0.5 - M
        qpad = np.zeros((3, D))
        qpad[:, :dim] = rng.standard_normal((3, dim))
        QR = qpad @ P.T
        y2 = (QR * QR).sum(axis=1)
        est, lb = rabitq._score_cluster_np(
            S, out["x2"], out["f_ip_ex"], out["f_err"], QR, y2, "high_acc", D
        )
        # --- transcription, written from the C++ form ---
        y = np.sqrt(y2)
        qprime = QR / y[:, None]            # unit_q (q')
        sumq = qprime.sum(axis=1)           # sumq
        code = out["code"].astype(np.float64)
        x_b = (code >= M).astype(np.float64)
        long_code = code - M * x_b          # sign-reverted ex code
        FAC_RESCALE = float(M)              # 1 << ex_bits (HASearcher.hpp:57)
        ip_xb_qp = x_b @ qprime.T
        ip_long_qp = long_code @ qprime.T
        xipnorm = out["f_ip_ex"]            # ipnorm·2·√x2 (Quantizer.hpp:476)
        ex_dist = (
            out["x2"][:, None] + y2[None, :]
            - xipnorm[:, None] * y[None, :]
            * (FAC_RESCALE * ip_xb_qp + ip_long_qp - (FAC_RESCALE - 0.5) * sumq[None, :])
        )
        onorm = np.sqrt(out["x2"])
        low_dist = (
            y2[None, :] + out["x2"][:, None]
            - 5.0 * y[None, :] / np.sqrt(D) * onorm[:, None]
            * (ip_xb_qp - (0.5 * sumq[None, :] - 0.58))
        )
        assert np.allclose(est, ex_dist, rtol=1e-12, atol=1e-9)
        assert np.allclose(lb, low_dist, rtol=1e-12, atol=1e-9)

    def test_ha_rank_identical_across_scorers(self, spark):
        base, qs, idx, cents_full, meta = _search_fixture(spark)
        kw = dict(nprobe=3, k=10, estimator="high_acc")
        a = _search_at(spark, FITS_ALL, qs, idx, cents_full, meta, **kw)
        c = _search_at(spark, FITS_NONE, qs, idx, cents_full, meta, **kw)
        s = _sql_search(qs, idx, cents_full, meta, **kw)
        am, cm, sm = _res_map(a), _res_map(c), _res_map(s)
        _assert_rank_identical(am, sm, tol=1e-6)
        _assert_rank_identical(cm, sm, tol=1e-6)
        idx.unpersist()

    def test_ha_recall_close_to_searcher(self, spark):
        """The HA fixed-bound phase-1 cut must not collapse recall vs the
        per-row-bound searcher estimator at equal nprobe."""
        import pyspark.sql.functions as F

        from extended_rabitq_spark import metrics
        from extended_rabitq_spark.operators import knn

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        gt = knn.exact_knn(qs, base, k=10)
        recalls = {}
        for est in ("searcher", "high_acc"):
            res = _sql_search(qs, idx, cents_full, meta, nprobe=4, k=10,
                              estimator=est)
            r = metrics.recall_per_query(res, gt, 10).agg(F.avg("recall")).first()[0]
            recalls[est] = float(r)
        assert recalls["high_acc"] >= recalls["searcher"] - 0.1, recalls
        idx.unpersist()


class TestCogroupPlan:
    def test_cogroup_prunes_index_partitions(self, spark, tmp_path):
        """On a saved (partitionBy cluster_id) index, the cogroup scorer's
        codes scan must carry a dynamic partition-pruning filter from the
        probed-cluster semi-join — at 100 TB only probed clusters' files
        are read."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq
        from extended_rabitq_spark.plans import inspect as I

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        idx, meta = rabitq.build_index(base, cents, total_bits=4)
        p = str(tmp_path / "idx")
        rabitq.save_index(idx, cents, meta, p)
        codes, cf, m = rabitq.load_index(spark, p)
        res = _search_at(spark, FITS_NONE, qs, codes, cf, m, nprobe=3, k=10)
        plan = I.physical_plan(res)
        assert "dynamicpruning" in plan, "codes scan lost partition pruning"
        assert I.has_partial_topk(res)


class TestGraphProbes:
    """W2 real: graph-based probe selection (HNSW-over-centroids analog,
    inc/index/Initializer.hpp:80-115)."""

    def _fixture(self, spark):
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        return qs, cents

    def test_contract_and_recall_at_default_ef(self, spark):
        """Same output contract as select_probes; at default ef (≥ K here)
        the beam search explores the whole connected graph, so the probe
        set matches exact W1 on the smoke fixture."""
        from extended_rabitq_spark.operators import ivf

        qs, cents = self._fixture(spark)
        graph = ivf.build_centroid_graph(cents, M=8)
        got = ivf.graph_probes(qs, graph, nprobe=3).collect()
        assert {r.qid for r in got} == set(range(10))
        for r in got:
            assert 1 <= r.probe_rank <= 3 and r.cdist >= 0.0
        exact = {
            (r.qid, r.probe_rank, r.cluster_id)
            for r in ivf.select_probes(qs, cents, 3).collect()
        }
        approx = {(r.qid, r.probe_rank, r.cluster_id) for r in got}
        # full exploration ⟹ identical probe choices (ranks and ids)
        assert approx == exact

    def test_graph_save_load_roundtrip(self, spark, tmp_path):
        """save_centroid_graph/load_centroid_graph round-trips every
        array bitwise and the loaded graph produces an IDENTICAL probe
        DataFrame — a saved index is search-ready without re-running
        the self-KNN build (reference parity: the hnswlib initializer
        is serialized inside the saved index, Initializer.hpp)."""
        import numpy as np

        from extended_rabitq_spark.operators import ivf

        qs, cents = self._fixture(spark)
        graph = ivf.build_centroid_graph(cents, M=8, n_entries=3)
        path = str(tmp_path / "idx")
        ivf.save_centroid_graph(spark, graph, path)
        loaded = ivf.load_centroid_graph(spark, path)
        for k in ("ids", "vecs", "adj", "entries"):
            np.testing.assert_array_equal(graph[k], loaded[k])
            assert graph[k].dtype == loaded[k].dtype
        before = sorted(
            tuple(r) for r in ivf.graph_probes(qs, graph, nprobe=3).collect()
        )
        after = sorted(
            tuple(r) for r in ivf.graph_probes(qs, loaded, nprobe=3).collect()
        )
        assert before == after

    def test_synthetic_large_k_recall(self, spark):
        """K=256 gaussian centroids, 20 queries: default-ef beam search
        keeps probe recall ≥ 0.95 vs exact W1; a starved beam (ef=8)
        degrades but still finds mostly-right probes — the documented
        approximation trade."""
        import numpy as np

        from extended_rabitq_spark.operators import ivf

        rng = np.random.default_rng(7)
        K, D, NQ, NP = 256, 16, 20, 4
        cent_rows = [(i, [float(x) for x in rng.normal(size=D)]) for i in range(K)]
        cents = spark.createDataFrame(
            cent_rows, "cluster_id int, centroid array<double>"
        )
        q_rows = [(i, [float(x) for x in rng.normal(size=D)]) for i in range(NQ)]
        qs = spark.createDataFrame(q_rows, "qid long, qvec array<double>")
        graph = ivf.build_centroid_graph(cents, M=12)
        exact = {}
        for r in ivf.select_probes(qs, cents, NP).collect():
            exact.setdefault(r.qid, set()).add(r.cluster_id)

        def recall(ef):
            got = {}
            for r in ivf.graph_probes(qs, graph, nprobe=NP, ef=ef).collect():
                got.setdefault(r.qid, set()).add(r.cluster_id)
            hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
            return hits / sum(len(v) for v in exact.values())

        assert recall(None if False else 768) >= 0.95
        assert recall(8) >= 0.5

    def test_graph_probes_drop_into_ivf_search(self, spark):
        """The probe DataFrame drops into the same downstream join as W1:
        KNN restricted to graph-probed clusters ranks candidates
        identically to exact-probed KNN when ef is ample (smoke K)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, knn

        qs, cents = self._fixture(spark)
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        from pyspark.sql import Window

        assigned = ivf.assign_clusters_combined(base, cents)
        graph = ivf.build_centroid_graph(cents, M=8)
        results = []
        w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
        for probes in (
            ivf.select_probes(qs, cents, 3),
            ivf.graph_probes(qs, graph, nprobe=3),
        ):
            cand = assigned.join(
                probes.select("qid", "cluster_id"), on="cluster_id"
            ).join(qs, on="qid")
            res = (
                cand.select(
                    "qid", "id", knn.distance_col("l2", "qvec", "vec").alias("dist")
                )
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= 5)
            )
            results.append(sorted((r.qid, r.rank, r.id) for r in res.collect()))
        # both probe providers produced the same ranked candidates
        assert results[0] == results[1]


class TestGraphProbesInSearch:
    def test_flagship_search_with_injected_graph_probes(self, spark):
        """rabitq_search(probes=graph_probes(...)) ≡ default exact-probe
        search at fixture K (beam exhaustive at default ef) — the W2
        seam composes with the flagship two-phase searcher."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        index_df, meta = rabitq.build_index(base, cents, total_bits=4)
        cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
        graph = ivf.build_centroid_graph(cents, M=8)
        gp = ivf.graph_probes(qs, graph, nprobe=3)
        a = sorted(
            (r.qid, r.rank, r.id)
            for r in rabitq.rabitq_search(
                qs, index_df, cents_full, meta, nprobe=3, k=5
            ).collect()
        )
        b = sorted(
            (r.qid, r.rank, r.id)
            for r in rabitq.rabitq_search(
                qs, index_df, cents_full, meta, nprobe=3, k=5, probes=gp
            ).collect()
        )
        assert a == b and len(a) == 50


class TestRangeSearch:
    def test_accelerated_equals_exact_at_full_probes(self, spark):
        """rabitq_range_search at full probes + exact verify returns the
        exact range result (est_lb cut is a high-probability-sound
        candidate filter; fixture equality asserted)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, knn, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        index_df, meta = rabitq.build_index(base, cents, total_bits=4)
        cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
        r2 = 1.6
        exact = sorted(
            (r.qid, r.id, round(r.dist, 9))
            for r in knn.range_search(qs, base, radius2=r2).collect()
        )
        fast = sorted(
            (r.qid, r.id, round(r.dist, 9))
            for r in rabitq.rabitq_range_search(
                qs, index_df, cents_full, meta, radius2=r2,
                nprobe=cents.count(), rerank_base=base,
            ).collect()
        )
        assert exact == fast and len(exact) > 0


class TestCanonicalColumns:
    def test_wrongly_named_query_frame_fails_at_analysis(self, spark):
        """Queries are (qid, qvec): a frame named (query_id, qv) raises
        Spark's AnalysisException naming `qid` on the driver while the
        plan is built (no action is called here), on both scorer routes
        and in the exact KNN, never from a Python worker."""
        import pyspark.sql.functions as F
        from pyspark.errors import AnalysisException

        from extended_rabitq_spark.operators import knn, rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        bad = qs.select(F.col("qid").alias("query_id"), F.col("qvec").alias("qv"))
        for threshold in (FITS_ALL, FITS_NONE):
            with broadcast_threshold(spark, threshold), \
                    pytest.raises(AnalysisException, match="`qid`"):
                rabitq.rabitq_search(
                    bad, idx, cents_full, meta, nprobe=3, k=5, rerank_base=base
                )
        with pytest.raises(AnalysisException, match="`qid`"):
            knn.exact_knn(bad, base, k=5)
        idx.unpersist()


class TestCosineMetricIndex:
    def test_cosine_index_full_probes_matches_exact_cosine(self, spark):
        """build_index(metric='cosine') + rabitq_search at full probes
        with exact re-rank ranks EXACTLY like brute-force cosine KNN
        (cosine ≡ L2 on the unit sphere is rank-preserving: dist =
        2·(1−cos)); raw (unnormalized) vectors go in on both sides —
        the index handles the normalization."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.functions import vector as V
        from extended_rabitq_spark.operators import ivf, knn, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        # centroids trained in the normalized space (the build contract)
        cents = ivf.label_centroids(
            emb.where(F.col("vec_id") >= 10).withColumn(
                "embedding", F.expr(V.l2_normalize("embedding"))
            )
        )
        idx, meta = rabitq.build_index(base, cents, total_bits=4, metric="cosine")
        assert meta["metric"] == "cosine"
        cf = rabitq.centroids_with_rotation(spark, cents, meta)
        K = cents.count()
        res = rabitq.rabitq_search(
            queries, idx, cf, meta, nprobe=K, k=10, rerank_base=base,
        )
        got = sorted((r.qid, r.rank, r.id) for r in res.collect())
        exp = sorted(
            (r.qid, r.rank, r.id)
            for r in knn.exact_knn(queries, base, k=10, metric="cosine").collect()
        )
        assert got == exp
        # driver-resident query_rows would bypass the normalization
        with pytest.raises(ValueError, match="L2-metric"):
            rabitq.rabitq_search(queries, idx, cf, meta, nprobe=K, k=10,
                                 query_rows=[(0, [1.0] * meta["dim"])])

    def test_l2_meta_unchanged_by_default(self, spark):
        """Default metric stays 'l2' and search does NOT normalize."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        _, meta = rabitq.build_index(base, cents, total_bits=4)
        assert meta["metric"] == "l2"

    def test_bad_metric_raises(self, spark):
        import pytest
        from conftest import SF_SMOKE
        import pyspark.sql.functions as F

        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        cents = ivf.label_centroids(emb)
        with pytest.raises(ValueError, match="unsupported metric"):
            rabitq.build_index(base, cents, metric="dotself")


def test_cosine_index_lifecycle_append_rebalance(spark, tmp_path):
    """A cosine-metric index stays metric-consistent through the
    mutable lifecycle: append re-normalizes the new vectors, rebalance
    samples/splits/re-quantizes on the unit sphere — full-probe search
    with exact rerank still matches brute-force cosine KNN over the
    grown base after both operations."""
    import pyspark.sql.functions as F

    from conftest import SF_SMOKE
    from extended_rabitq_spark.functions import vector as V
    from extended_rabitq_spark.operators import ivf, knn, rabitq

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base0 = emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 40)).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    extra = emb.where(F.col("vec_id") >= 40).select(
        F.col("vec_id").alias("id"),
        # scale the appended vectors: cosine must be scale-invariant
        F.expr("transform(embedding, x -> x * 7.0D)").alias("vec"),
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cents = ivf.label_centroids(
        emb.where(F.col("vec_id") >= 10).withColumn(
            "embedding", F.expr(V.l2_normalize("embedding"))
        )
    )
    idx, meta = rabitq.build_index(base0, cents, total_bits=4, metric="cosine")
    path = str(tmp_path / "cosidx")
    rabitq.save_index(idx, cents, meta, path)
    rabitq.append_to_index(extra, path)
    grown = base0.unionByName(extra)

    def full_search():
        codes, cf, m = rabitq.load_index(spark, path)
        K = cf.count()
        return sorted(
            (r.qid, r.rank, r.id)
            for r in rabitq.rabitq_search(
                queries, codes, cf, m, nprobe=K, k=10, rerank_base=grown
            ).collect()
        )

    exp = sorted(
        (r.qid, r.rank, r.id)
        for r in knn.exact_knn(queries, grown, k=10, metric="cosine").collect()
    )
    assert full_search() == exp
    # rebalance on the grown RAW base (rebalance normalizes internally)
    out = rabitq.rebalance_index(spark, path, grown, max_ratio=1.2)
    assert full_search() == exp, out


class TestMipsMetricIndex:
    def test_ip_index_full_probes_matches_exact_ip(self, spark):
        """build_index(metric='ip') + full probes + exact rerank ranks
        exactly like brute-force max-inner-product KNN: the augmented-
        coordinate reduction ‖q'−x'‖² = ‖q‖² + M² − 2⟨q,x⟩ is
        order-preserving per query."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, knn, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        # centroids trained in the augmented geometry (the contract)
        aug, M = rabitq.mips_prepare(base, vec="vec")
        cents = ivf.label_centroids(
            aug.join(emb.select(F.col("vec_id").alias("id"), "label"), "id"),
            vec="vec",
        )
        idx, meta = rabitq.build_index(base, cents, total_bits=4, metric="ip")
        assert meta["metric"] == "ip" and abs(meta["mips_norm"] - M) < 1e-12
        assert meta["dim"] == len(base.first()["vec"]) + 1
        cf = rabitq.centroids_with_rotation(spark, cents, meta)
        K = cents.count()
        res = rabitq.rabitq_search(
            queries, idx, cf, meta, nprobe=K, k=10, rerank_base=base,
        )
        got = sorted((r.qid, r.rank, r.id) for r in res.collect())
        exp = sorted(
            (r.qid, r.rank, r.id)
            for r in knn.exact_knn(queries, base, k=10, metric="ip").collect()
        )
        assert got == exp

    def test_ip_index_lifecycle_append_rebalance(self, spark, tmp_path):
        """Append re-augments with the SAVED norm; rebalance splits in
        the augmented geometry — full-probe results still match exact
        MIPS over the grown base (appended vectors under the norm cap)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, knn, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base0 = emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 40)).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        # appended vectors scaled down: norms stay under the saved M
        extra = emb.where(F.col("vec_id") >= 40).select(
            F.col("vec_id").alias("id"),
            F.expr("transform(embedding, x -> x * 0.5D)").alias("vec"),
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        aug, _ = rabitq.mips_prepare(base0, vec="vec")
        cents = ivf.label_centroids(
            aug.join(emb.select(F.col("vec_id").alias("id"), "label"), "id"),
            vec="vec",
        )
        idx, meta = rabitq.build_index(base0, cents, total_bits=4, metric="ip")
        path = str(tmp_path / "ipidx")
        rabitq.save_index(idx, cents, meta, path)
        rabitq.append_to_index(extra, path)
        grown = base0.unionByName(extra)

        def full_search():
            codes, cf, m = rabitq.load_index(spark, path)
            K = cf.count()
            return sorted(
                (r.qid, r.rank, r.id)
                for r in rabitq.rabitq_search(
                    queries, codes, cf, m, nprobe=K, k=10, rerank_base=grown
                ).collect()
            )

        exp = sorted(
            (r.qid, r.rank, r.id)
            for r in knn.exact_knn(queries, grown, k=10, metric="ip").collect()
        )
        assert full_search() == exp
        out = rabitq.rebalance_index(spark, path, grown, max_ratio=1.2)
        assert full_search() == exp, out


def test_range_search_metric_handling(spark):
    """rabitq_range_search on a cosine index verifies in the normalized
    geometry (radius = 2*(1-cos) on the unit sphere, scale-invariant);
    an ip index is rejected with a clear error (no global radius
    semantics under the MIPS per-query offset)."""
    import pyspark.sql.functions as F
    import pytest

    from conftest import SF_SMOKE
    from extended_rabitq_spark.functions import vector as V
    from extended_rabitq_spark.operators import ivf, rabitq

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    # scale the query hard: cosine results must not change
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.expr("transform(embedding, x -> x * 9.0D)").alias("qvec"),
    )
    cents_cos = ivf.label_centroids(
        emb.where(F.col("vec_id") >= 10).withColumn(
            "embedding", F.expr(V.l2_normalize("embedding"))
        )
    )
    idx, meta = rabitq.build_index(base, cents_cos, total_bits=4, metric="cosine")
    cf = rabitq.centroids_with_rotation(spark, cents_cos, meta)
    K = cents_cos.count()
    RAD = 1.4  # 2*(1-cos) <= 1.4  ⟺  cos >= 0.3 (fixture min cd ≈ 0.61)
    got = sorted(
        (r.qid, r.id)
        for r in rabitq.rabitq_range_search(
            queries, idx, cf, meta, radius2=RAD, nprobe=K, rerank_base=base
        ).collect()
    )
    # brute-force cosine range on raw vectors
    exp = sorted(
        (r.qid, r.id)
        for r in queries.crossJoin(base)
        .select("qid", "id", F.expr(f"1.0 - ({V.cosine_sim('qvec', 'vec')})").alias("cd"))
        .where(F.col("cd") * 2.0 <= RAD)
        .collect()
    )
    assert got == exp and len(got) > 0

    aug, m = rabitq.mips_prepare(base, vec="vec")
    cents_ip = ivf.label_centroids(
        aug.join(emb.select(F.col("vec_id").alias("id"), "label"), "id"), vec="vec"
    )
    idx2, meta2 = rabitq.build_index(
        base, cents_ip, total_bits=4, metric="ip", mips_m=m
    )
    cf2 = rabitq.centroids_with_rotation(spark, cents_ip, meta2)
    with pytest.raises(ValueError, match="no global .*radius|radius semantics"):
        rabitq.rabitq_range_search(
            queries, idx2, cf2, meta2, radius2=1.0, nprobe=4, rerank_base=base
        )


class TestSearchIndexSugar:
    def test_search_index_uses_tuned_default_and_graph(self, spark, tmp_path):
        """One-call serving: search_index loads the artifacts, defaults
        nprobe to the persisted tuned value, auto-detects the graph, and
        equals the explicit composition; tuned_target_met=false warns."""
        import json as _json
        import warnings

        import pyspark.sql.functions as F

        from extended_rabitq_spark.operators import ivf, rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        path = str(tmp_path / "srvidx")
        cents = cents_full.select("cluster_id", "centroid")
        rabitq.save_index(idx, cents, meta, path)
        with open(f"{path}/meta.json") as fh:
            m = _json.load(fh)
        m["tuned_nprobe"] = 3
        m["tuned_target_met"] = True
        with open(f"{path}/meta.json", "w") as fh:
            _json.dump(m, fh)

        got = rabitq.search_index(spark, path, qs, k=5)
        codes2, cf2, m2 = rabitq.load_index(spark, path)
        exp = rabitq.rabitq_search(qs, codes2, cf2, m2, nprobe=3, k=5)
        _assert_rank_identical(_res_map(got), _res_map(exp))

        # unmet tune target → warning, still serves
        m["tuned_target_met"] = False
        m["tuned_recall"] = 0.4
        m["tuned_target"] = 0.9
        with open(f"{path}/meta.json", "w") as fh:
            _json.dump(m, fh)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            rabitq.search_index(spark, path, qs, k=5).count()
        assert any("missed its recall target" in str(x.message) for x in w)

        # graph auto-detection: persist the W2 artifact, expect the same
        # results on this fixture (K=4-ish: beam search is exhaustive)
        graph = ivf.build_centroid_graph(cents, M=4)
        ivf.save_centroid_graph(spark, graph, path)
        got_g = rabitq.search_index(spark, path, qs, k=5)
        _assert_rank_identical(_res_map(got_g), _res_map(exp))
        # forcing exact probes still works with the artifact present
        got_ng = rabitq.search_index(spark, path, qs, k=5, use_graph=False)
        _assert_rank_identical(_res_map(got_ng), _res_map(exp))
        idx.unpersist()

    def test_search_index_serves_tuned_phase2(self, spark, tmp_path, monkeypatch):
        """The persisted tuned_nprobe is served under the phase-2 config
        the tune measured (tuned_refine, tuned_refine_mode) unless the
        caller passes its own; a tune run with a rerank warns when no
        rerank_base is given."""
        import json as _json
        import warnings

        from extended_rabitq_spark.operators import rabitq

        base, qs, idx, cents_full, meta = _search_fixture(spark)
        path = str(tmp_path / "tunedidx")
        rabitq.save_index(idx, cents_full.select("cluster_id", "centroid"), meta, path)
        idx.unpersist()
        with open(f"{path}/meta.json") as fh:
            m = _json.load(fh)
        m.update(tuned_nprobe=3, tuned_target_met=True, tuned_refine=None,
                 tuned_refine_mode="threshold", tuned_rerank=True)
        with open(f"{path}/meta.json", "w") as fh:
            _json.dump(m, fh)
        seen = []
        monkeypatch.setattr(
            rabitq, "rabitq_search", lambda *a, **kw: seen.append(kw) or "res"
        )

        def serve(**kw):
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                assert rabitq.search_index(spark, path, qs, k=5, **kw) == "res"
            return seen[-1], [str(x.message) for x in w]

        kw, msgs = serve()
        assert kw["nprobe"] == 3
        assert kw["refine"] is None and kw["refine_mode"] == "threshold"
        assert any("tuned with an exact rerank" in x for x in msgs)

        kw, msgs = serve(rerank_base=base, refine=2, refine_mode="rank")
        assert kw["refine"] == 2 and kw["refine_mode"] == "rank"
        assert not any("exact rerank" in x for x in msgs)

        # an explicit nprobe is not the tuned operating point: no tuned
        # phase-2 config rides along
        kw, msgs = serve(nprobe=2)
        assert kw["nprobe"] == 2
        assert "refine" not in kw and "refine_mode" not in kw
        assert not msgs


class TestRecallCountsAttestation:
    """rabitq_recall_counts: the approximate path's hashable driver row."""

    def test_deterministic_and_matches_pinned_expected(self, spark):
        from extended_rabitq_spark.queries.rabitq import (
            _RECALL_COUNTS_EXPECTED,
            rabitq_recall_counts,
        )

        sf = "/root/testdata/sf0.01"
        a = sorted((r.qid, r.hits) for r in rabitq_recall_counts(spark, sf).collect())
        assert a == sorted(_RECALL_COUNTS_EXPECTED), (
            "approximate-path hit counts drifted from the pinned table; "
            "if the operating point changed ON PURPOSE, regenerate via "
            "tools/gen_recall_counts_expected.py"
        )
        b = sorted((r.qid, r.hits) for r in rabitq_recall_counts(spark, sf).collect())
        assert a == b  # run-to-run determinism

    def test_ha_row_matches_pinned_and_differs_from_searcher(self, spark):
        """rabitq_recall_counts_ha (VERDICT r8 item 6): the HIGH_ACC
        estimator's hashable row.  Must match its pinned table AND that
        table must differ from the default searcher's — otherwise the
        row would not attest the HA path specifically."""
        from extended_rabitq_spark.queries.rabitq import (
            _RECALL_COUNTS_EXPECTED,
            _RECALL_COUNTS_HA_EXPECTED,
            rabitq_recall_counts_ha,
        )

        sf = "/root/testdata/sf0.01"
        got = sorted(
            (r.qid, r.hits) for r in rabitq_recall_counts_ha(spark, sf).collect()
        )
        assert got == sorted(_RECALL_COUNTS_HA_EXPECTED), (
            "HIGH_ACC hit counts drifted from the pinned table; if the "
            "operating point changed ON PURPOSE, regenerate via "
            "tools/gen_recall_counts_expected.py"
        )
        assert sorted(_RECALL_COUNTS_HA_EXPECTED) != sorted(_RECALL_COUNTS_EXPECTED)

    def test_adaptive_row_matches_pinned_and_cut_is_active(self, spark):
        """The r9 adaptive attestation (VERDICT r8 item 3): the driver
        row pins (hits, n_pool, n_kept) — hits must equal the plain
        row's hits (no-rerank equivalence theorem) and the pinned
        n_kept must be strictly below n_pool for EVERY query (the cut
        is active, not the theorem's trivial case)."""
        from extended_rabitq_spark.queries.rabitq import (
            _RECALL_COUNTS_ADAPTIVE_EXPECTED,
            _RECALL_COUNTS_EXPECTED,
            rabitq_recall_counts_adaptive,
        )

        sf = "/root/testdata/sf0.01"
        got = sorted(
            (r.qid, r.hits, r.n_pool, r.n_kept)
            for r in rabitq_recall_counts_adaptive(spark, sf).collect()
        )
        assert got == sorted(_RECALL_COUNTS_ADAPTIVE_EXPECTED), (
            "adaptive attestation drifted from the pinned table; if the "
            "operating point changed ON PURPOSE, regenerate via "
            "tools/gen_recall_counts_expected.py"
        )
        plain_hits = dict(_RECALL_COUNTS_EXPECTED)
        for q, h, n_pool, n_kept in got:
            assert h == plain_hits[q]  # theorem: hits equal uncut search
            assert n_kept < n_pool     # and the cut genuinely pruned
            assert n_kept >= 0 and n_pool > 0

    def test_counts_are_a_true_intersection(self, spark):
        """hits == |approx top-k ∩ exact top-k| recomputed independently."""
        from extended_rabitq_spark.operators import knn, rabitq
        from extended_rabitq_spark.queries.ann import K, _base_df, _queries_df
        from extended_rabitq_spark.queries.ivf import NPROBE
        from extended_rabitq_spark.queries.rabitq import (
            _build,
            rabitq_recall_counts,
        )

        sf = "/root/testdata/sf0.01"
        base, index_df, cents, meta = _build(spark, sf)
        qs = _queries_df(spark, sf)
        res = rabitq.rabitq_search(qs, index_df, cents, meta, nprobe=NPROBE, k=K)
        gt = knn.exact_knn(qs, base, k=K)
        approx = {}
        for r in res.collect():
            approx.setdefault(r.qid, set()).add(r.id)
        exact = {}
        for r in gt.collect():
            exact.setdefault(r.qid, set()).add(r.id)
        got = {r.qid: r.hits for r in rabitq_recall_counts(spark, sf).collect()}
        for qid in exact:
            assert got[qid] == len(approx.get(qid, set()) & exact[qid])
            assert 0 <= got[qid] <= K


class TestAllSupportedBitWidths:
    """The reference accepts B ∈ {3,4,5,7,8,9} total bits/dim
    (src/create_index.cpp:15, README.md:34).  e2e parity for the full
    set: every B builds, searches, and is LOSSLESS at full probes with
    exact rerank; estimator quality is monotone in B at a fixed
    moderate nprobe."""

    @pytest.mark.parametrize("bits", [3, 5, 7, 8, 9])
    def test_full_probe_rerank_lossless_at_any_b(self, spark, bits):
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import ivf, knn, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        idx, meta = rabitq.build_index(base, cents, total_bits=bits)
        assert meta["total_bits"] == bits
        cf = rabitq.centroids_with_rotation(spark, cents, meta)
        n_clusters = cents.count()
        res = rabitq.rabitq_search(
            qs, idx, cf, meta, nprobe=n_clusters, k=5, rerank_base=base)
        gt = knn.exact_knn(qs, base, k=5)
        got = {(r.qid, r.rank): r.id for r in res.collect()}
        exp = {(r.qid, r.rank): r.id for r in gt.collect()}
        assert got == exp  # lossless at every supported bit width

    def test_estimator_recall_monotone_in_b(self, spark):
        """At a fixed moderate nprobe WITHOUT exact rerank, more bits →
        at-least-as-good recall (the published B-vs-quality trade)."""
        import pyspark.sql.functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark import metrics
        from extended_rabitq_spark.operators import ivf, knn, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        gt = knn.exact_knn(qs, base, k=10)
        recalls = {}
        for bits in (3, 9):
            idx, meta = rabitq.build_index(base, cents, total_bits=bits)
            cf = rabitq.centroids_with_rotation(spark, cents, meta)
            res = rabitq.rabitq_search(qs, idx, cf, meta, nprobe=4, k=10)
            r = metrics.recall_per_query(res, gt, 10).agg(
                F.avg("recall")).first()[0]
            recalls[bits] = float(r)
        assert recalls[9] >= recalls[3]
        assert recalls[9] > 0.5  # sanity: 9-bit estimates are good

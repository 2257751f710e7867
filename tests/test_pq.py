"""Product quantization codec + ADC search (operators/pq.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from extended_rabitq_spark.operators import ivf as ivf_ops
from extended_rabitq_spark.operators import knn, pq

from conftest import SF_SMOKE

M, DSUB = 4, 16


def _frames(spark, nq=10):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    b = emb.where(F.col("vec_id") >= nq).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = ivf_ops.label_centroids(emb.where(F.col("vec_id") >= nq))
    return q, b, pq.subspace_codebooks(cents, M, DSUB)


class TestPQCodec:
    def test_encode_deterministic_across_partitioning(self, spark):
        _, b, cb = _frames(spark)
        a = sorted(map(tuple, pq.pq_encode(b, cb, M, DSUB).collect()))
        c = sorted(map(tuple, pq.pq_encode(b.repartition(17), cb, M, DSUB).collect()))
        assert a == c

    def test_encode_matches_numpy_argmin(self, spark):
        _, b, cb = _frames(spark)
        cw = {(r.sub_id, r.code): np.array(r.cw) for r in cb.collect()}
        codes = {(r.id, r.sub_id): r.code for r in pq.pq_encode(b, cb, M, DSUB).collect()}
        base = {r.id: np.array(r.vec, dtype=np.float64) for r in b.collect()}
        ncodes = max(c for (_, c) in cw) + 1
        for vid, v in list(base.items())[:50]:
            for j in range(M):
                sv = v[j * DSUB : (j + 1) * DSUB]
                dists = [float(((sv - cw[(j, c)]) ** 2).sum()) for c in range(ncodes)]
                best = min(range(ncodes), key=lambda c: (dists[c], c))
                assert codes[(vid, j)] == best, (vid, j)

    def test_decode_is_codeword_concat(self, spark):
        _, b, cb = _frames(spark)
        cw = {(r.sub_id, r.code): list(r.cw) for r in cb.collect()}
        codes = pq.pq_encode(b, cb, M, DSUB)
        dec = {r.id: list(r.dvec) for r in pq.pq_decode(codes, cb).collect()}
        cd = {}
        for r in codes.collect():
            cd.setdefault(r.id, {})[r.sub_id] = r.code
        for vid, by_sub in list(cd.items())[:50]:
            want = []
            for j in range(M):
                want.extend(cw[(j, by_sub[j])])
            assert dec[vid] == want


class TestPQSearch:
    def test_full_coarse_is_exact(self, spark):
        """coarse_k = |base| ⇒ the ADC phase filters nothing; exact
        rerank must reproduce brute-force KNN bitwise."""
        q, b, cb = _frames(spark, nq=5)
        n = b.count()
        got = sorted(map(tuple, pq.pq_adc_knn(q, b, cb, M, DSUB, coarse_k=n, k=10).collect()))
        want = sorted(map(tuple, knn.exact_knn(q, b, k=10).collect()))
        assert got == want

    def test_overfetch_recall_floor(self, spark):
        """ADC with 5× overfetch keeps a reasonable share of true
        neighbors even with the coarse 10-codeword label codebooks."""
        from extended_rabitq_spark import metrics

        q, b, cb = _frames(spark)
        gt = knn.exact_knn(q, b, k=10)
        out = pq.pq_adc_knn(q, b, cb, M, DSUB, coarse_k=50, k=10)
        rec = metrics.recall_per_query(out, gt, 10).agg(F.avg("recall")).first()[0]
        assert rec >= 0.3, rec


class TestWidthGuard:
    """ADVICE r10 (medium): m*dsub must equal the true vector width —
    a wider vector would silently truncate the dim-specialized kernels.
    The in-plan assert_true guard must throw instead."""

    def test_mismatched_width_raises(self, spark):
        q, b, cb = _frames(spark, nq=5)
        with pytest.raises(Exception, match="vector width"):
            # m*dsub = 32 < the fixture's 64-wide vectors
            pq.pq_adc_knn(q, b, cb, m=2, dsub=16, coarse_k=10, k=5).collect()

    def test_mismatched_width_raises_ivfpq(self, spark):
        q, b, _ = _frames(spark, nq=5)
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        cents = ivf_ops.label_centroids(emb.where(F.col("vec_id") >= 5))
        with pytest.raises(Exception, match="vector width"):
            pq.ivfpq_knn(q, b, cents, m=2, dsub=16, nprobe=2, coarse_k=10, k=5).collect()

    def test_null_vector_reports_null(self, spark):
        """A NULL vector is its own defect, not a width error."""
        q, b, cb = _frames(spark, nq=5)
        b = b.withColumn("vec", F.when(F.col("id") != 5, F.col("vec")))  # id 5: NULL
        with pytest.raises(Exception, match="pq_adc_knn: vector NULL"):
            pq.pq_adc_knn(q, b, cb, M, DSUB, coarse_k=10, k=5).collect()

    @staticmethod
    def _defective(df, key, vec, defect):
        """Row ``key`` of ``df`` gets a NULL or a 40-wide (short) vector."""
        bad = F.lit(None) if defect == "NULL" else F.slice(vec, 1, 40)
        return df.withColumn(vec, F.when(F.col(key) == 15, bad).otherwise(F.col(vec)))

    @pytest.mark.parametrize("defect, msg", [
        ("NULL", "vector NULL"), ("short", "vector width != m\\*dsub = 64"),
    ], ids=["null", "short"])
    def test_saved_index_build_rejects_bad_base(self, spark, tmp_path, defect, msg):
        """save_ivfpq_index guards its base like ivfpq_knn: a NULL or
        short vector fails the write instead of being encoded."""
        _, b, _ = _frames(spark, nq=5)
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        cents = ivf_ops.label_centroids(emb.where(F.col("vec_id") >= 5))
        b = self._defective(b, "id", "vec", defect)
        with pytest.raises(Exception, match=f"save_ivfpq_index: {msg}"):
            pq.save_ivfpq_index(b, cents, str(tmp_path / "idx"), m=M, dsub=DSUB)

    @pytest.mark.parametrize("defect, msg", [
        ("NULL", "vector NULL"), ("short", "vector width != m\\*dsub = 64"),
    ], ids=["null", "short"])
    def test_saved_index_search_rejects_bad_queries(self, spark, tmp_path, defect, msg):
        """search_ivfpq_index guards its queries with dim = m·dsub from
        meta.json: a NULL or short query fails instead of scoring NULL."""
        q, b, _ = _frames(spark, nq=20)
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        cents = ivf_ops.label_centroids(emb.where(F.col("vec_id") >= 20))
        path = str(tmp_path / "idx")
        pq.save_ivfpq_index(b, cents, path, m=M, dsub=DSUB)
        q = self._defective(q, "qid", "qvec", defect)
        with pytest.raises(Exception, match=f"search_ivfpq_index: {msg}"):
            pq.search_ivfpq_index(spark, path, q, nprobe=2, coarse_k=10, k=5).collect()

    def test_matching_width_unchanged(self, spark):
        """The guard keeps every row: results identical to brute force
        at full coarse_k (the exactness theorem test, re-asserted with
        the guard in the plan)."""
        q, b, cb = _frames(spark, nq=5)
        n = b.count()
        got = sorted(map(tuple, pq.pq_adc_knn(q, b, cb, M, DSUB, coarse_k=n, k=10).collect()))
        want = sorted(map(tuple, knn.exact_knn(q, b, k=10).collect()))
        assert got == want


class TestPQTrainer:
    def test_trained_beats_label_means_on_distortion(self, spark):
        """Per-subspace Lloyd's with ksub=32 must reconstruct with lower
        mean squared error than the 10-codeword label-mean codebooks."""
        _, b, cb_label = _frames(spark)
        cb_trained = pq.train_pq_codebooks(b, m=M, ksub=32, seed=7)

        def mse(cb):
            dec = pq.pq_decode(pq.pq_encode(b, cb, M, DSUB), cb)
            j = b.join(dec, "id")
            from extended_rabitq_spark.functions import vector as V

            return (
                j.select(F.expr(V.l2sq("vec", "dvec")).alias("e"))
                .agg(F.avg("e"))
                .first()[0]
            )

        assert mse(cb_trained) < mse(cb_label)

    def test_trainer_deterministic(self, spark):
        _, b, _ = _frames(spark)
        a = sorted(map(repr, pq.train_pq_codebooks(b, m=M, ksub=8, seed=3).collect()))
        c = sorted(map(repr, pq.train_pq_codebooks(b, m=M, ksub=8, seed=3).collect()))
        assert a == c

    def test_dim_not_divisible_raises(self, spark):
        _, b, _ = _frames(spark)
        with pytest.raises(ValueError, match="not divisible"):
            pq.train_pq_codebooks(b, m=7, ksub=8)


class TestOPQ:
    def _aniso(self, spark, n=400, d=16, seed=11):
        """Correlated anisotropic data: PQ's independence-across-subspaces
        assumption is violated, which is exactly where OPQ wins."""
        rng = np.random.default_rng(seed)
        A = rng.standard_normal((d, d))
        scales = np.linspace(3.0, 0.1, d)
        X = rng.standard_normal((n, d)) * scales @ A
        return spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(n)],
            "id BIGINT, vec ARRAY<DOUBLE>",
        )

    def test_rotation_orthonormal(self, spark):
        b = self._aniso(spark)
        R, _ = pq.train_opq(b, m=4, ksub=16, opq_iters=4, seed=5)
        assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-9)

    def test_opq_beats_plain_pq_distortion(self, spark):
        b = self._aniso(spark)
        m, dsub = 4, 4
        R, cb_opq = pq.train_opq(b, m=m, ksub=16, opq_iters=8, seed=5)
        cb_pq = pq.train_pq_codebooks(b, m=m, ksub=16, seed=5)
        from extended_rabitq_spark.functions import vector as V

        def mse(frame, cb):
            dec = pq.pq_decode(pq.pq_encode(frame, cb, m, dsub), cb)
            return (
                frame.join(dec, "id")
                .select(F.expr(V.l2sq("vec", "dvec")).alias("e"))
                .agg(F.avg("e"))
                .first()[0]
            )

        br = pq.rotate_vectors(b, R, vec="vec")
        assert mse(br, cb_opq) < mse(b, cb_pq)

    def test_opq_search_matches_exact_distances(self, spark):
        """Rerank distances in the rotated space equal true L2² in the
        original space (rotation invariance) to float tolerance."""
        b = self._aniso(spark, n=200)
        q = b.where(F.col("id") < 5).select(
            F.col("id").alias("qid"), F.col("vec").alias("qvec")
        )
        base = b.where(F.col("id") >= 5)
        R, cb = pq.train_opq(base, m=4, ksub=16, opq_iters=4, seed=5)
        res = pq.opq_adc_knn(q, base, R, cb, m=4, dsub=4, coarse_k=40, k=5).collect()
        qs = {r.qid: np.array(r.qvec) for r in q.collect()}
        bs = {r.id: np.array(r.vec) for r in base.collect()}
        assert len(res) == 25
        for r in res:
            want = float(((qs[r.qid] - bs[r.id]) ** 2).sum())
            assert abs(r.dist - want) < 1e-7 * max(1.0, want)

    def test_rotate_vectors_passthrough_and_matmul(self, spark):
        b = self._aniso(spark, n=20)
        R, _ = pq.train_opq(b, m=4, ksub=4, opq_iters=2, seed=5)
        got = {r.id: np.array(r.vec) for r in pq.rotate_vectors(b, R).collect()}
        for r in b.collect():
            assert np.allclose(got[r.id], np.array(r.vec) @ R, atol=1e-12)

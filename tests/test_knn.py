"""Direct equality of exact_knn (declarative) vs exact_knn_combined
(map-side partial top-k) — the claim cited by knn.py / harness.py /
queries/ann.py docstrings, including the tie fixture that exercises the
at-or-below-k-th candidate selection (duplicate vectors ⇒ >k rows tied
at the boundary inside one partition)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from extended_rabitq_spark.operators import knn


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _collect_sorted(df):
    return [tuple(r) for r in df.orderBy("qid", "rank").collect()]


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_combined_equals_declarative(spark, metric):
    rng = np.random.default_rng(7)
    base = _df(
        spark,
        [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(200)],
        "id long, vec array<float>",
    ).repartition(4)
    queries = _df(
        spark,
        [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(7)],
        "qid long, qvec array<float>",
    )
    a = _collect_sorted(knn.exact_knn(queries, base, k=9, metric=metric))
    b = _collect_sorted(knn.exact_knn_combined(queries, base, k=9, metric=metric))
    assert a == b  # bit-identical: same candidates, same declarative distance


def test_combined_ties_duplicate_vectors(spark):
    """>k duplicate vectors in ONE partition: exactly-k argpartition used to
    drop an id the (dist, id) order keeps; the at-or-below-k-th selection
    must not."""
    v = [1.0, 2.0, 3.0, 4.0]
    # 30 identical vectors (ids 0..29) + some distinct ones, single partition
    rows = [(int(i), v) for i in range(30)]
    rows += [(int(100 + i), [float(x + i + 1) for x in v]) for i in range(5)]
    base = _df(spark, rows, "id long, vec array<float>").coalesce(1)
    queries = _df(spark, [(0, v)], "qid long, qvec array<float>")
    k = 10
    a = _collect_sorted(knn.exact_knn(queries, base, k=k))
    b = _collect_sorted(knn.exact_knn_combined(queries, base, k=k))
    assert a == b
    # the winners under (dist, id) are exactly ids 0..9 at dist 0
    assert [r[2] for r in b] == list(range(k))
    assert all(r[3] == 0.0 for r in b)


def test_combined_ties_across_partitions(spark):
    """Ties split across partitions + k larger than any single partition's
    tie group — the global window must still finish exactly."""
    v = [0.5, -1.5, 2.5]
    rows = [(int(i), v) for i in range(40)]
    base = _df(spark, rows, "id long, vec array<float>").repartition(8)
    queries = _df(spark, [(1, v), (2, [float(x) for x in np.array(v) + 0.25])],
                  "qid long, qvec array<float>")
    a = _collect_sorted(knn.exact_knn(queries, base, k=15))
    b = _collect_sorted(knn.exact_knn_combined(queries, base, k=15))
    assert a == b


@pytest.mark.parametrize("k", [3, 199])
def test_combined_null_and_short_vectors_match_declarative(spark, k):
    """A NULL or short base vector has a NULL distance, ranked last: the
    combined form keeps such rows where exact_knn does (k=199 of 200
    reaches them) instead of failing in the numpy pre-selection."""
    rng = np.random.default_rng(13)
    rows = [(int(i), [float(x) for x in rng.standard_normal(16)]) for i in range(200)]
    rows[57] = (57, None)
    rows[91] = (91, rows[91][1][:8])
    base = _df(spark, rows, "id long, vec array<double>").repartition(2)
    queries = _df(spark, [(0, [float(x) for x in rng.standard_normal(16)])],
                  "qid long, qvec array<double>")
    a = _collect_sorted(knn.exact_knn(queries, base, k=k))
    b = _collect_sorted(knn.exact_knn_combined(queries, base, k=k))
    assert a == b
    assert len(b) == k
    if k == 199:
        assert b[-1][2:] == (57, None)  # NULLs last, then id order


def test_maxsim_topk_hand_computed(spark):
    """MaxSim late interaction on a hand-computable fixture: each query
    vector picks its best member vector per entity; the group sums the
    maxima; entities rank by (score DESC, ent ASC)."""
    from decimal import Decimal

    ents = _df(
        spark,
        [
            # entity 1: specialists for x-axis and y-axis
            (1, [1.0, 0.0]), (1, [0.0, 1.0]),
            # entity 2: one diagonal generalist
            (2, [0.6, 0.6]),
        ],
        "ent int, vec array<float>",
    )
    # one group with an x-query and a y-query
    qs = _df(
        spark,
        [(0, 0, [2.0, 0.0]), (0, 1, [0.0, 2.0])],
        "gid long, qid long, qvec array<float>",
    )
    got = {
        (r.gid, r.rank): (r.ent, r.score)
        for r in knn.maxsim_topk(qs, ents, k=2).collect()
    }
    # entity 1: max⟨qx,·⟩=2.0 (x-specialist), max⟨qy,·⟩=2.0 → 4.0
    # entity 2: 1.2 + 1.2 → 2.4: the generalist loses to the specialists
    assert got[(0, 1)] == (1, Decimal("4.000000"))
    assert got[(0, 2)] == (2, Decimal("2.400000"))


def test_maxsim_topk_tie_break_and_k(spark):
    """Score ties rank by entity id ascending; k caps output per group."""
    ents = _df(
        spark,
        [(7, [1.0]), (3, [1.0]), (5, [0.5])],
        "ent int, vec array<float>",
    )
    qs = _df(spark, [(0, 0, [1.0]), (1, 1, [2.0])],
             "gid long, qid long, qvec array<float>")
    rows = knn.maxsim_topk(qs, ents, k=2).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r.gid, []).append((r.rank, r.ent))
    # tie between ents 3 and 7 at score 1.0 (then 2.0): id ascending wins
    assert sorted(by_group[0]) == [(1, 3), (2, 7)]
    assert sorted(by_group[1]) == [(1, 3), (2, 7)]


class TestInt8EmbeddingCodec:
    """Storage codec (operators/embcodec): round-trip error bound and
    neighborhood preservation over the fixture embeddings."""

    def test_roundtrip_error_bounded_by_half_scale(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import embcodec

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        q = embcodec.quantize_embeddings_int8(emb.select("vec_id", "embedding"))
        j = embcodec.dequantize_embeddings_int8(
            q.join(emb.select("vec_id", F.col("embedding").alias("orig")),
                   "vec_id"),
            vec="recon",
        )
        rows = j.select("vec_id", "recon", "orig").collect()
        assert len(rows) == emb.count()
        for r in rows:
            o = np.array(r.orig, dtype=np.float64)
            rec = np.array(r.recon, dtype=np.float64)
            half_step = np.abs(o).max() / 127.0 / 2.0
            assert np.abs(rec - o).max() <= half_step + 1e-12

    def test_codes_fit_int8_and_plan_is_map_only(self, spark):
        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import embcodec
        from extended_rabitq_spark.plans import inspect as I

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        q = embcodec.quantize_embeddings_int8(emb.select("vec_id", "embedding"))
        assert dict(q.dtypes)["code_i8"] == "array<tinyint>"
        plan = I.physical_plan(q)
        assert "Exchange" not in plan  # map-only: no shuffle
        mx = q.selectExpr(
            "max(array_max(transform(code_i8, c -> abs(CAST(c AS INT))))) AS m"
        ).first().m
        assert mx <= 127

    def test_knn_over_dequantized_preserves_recall(self, spark):
        from pyspark.sql import functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark import metrics
        from extended_rabitq_spark.operators import embcodec, knn

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        dq = embcodec.dequantize_embeddings_int8(
            embcodec.quantize_embeddings_int8(
                emb.where(F.col("vec_id") >= 10).select("vec_id", "embedding"),
                vec="embedding"),
            vec="vec",
        ).select(F.col("vec_id").alias("id"), "vec")
        gt = knn.exact_knn(qs, base, k=10)
        approx = knn.exact_knn(qs, dq, k=10)
        rec = metrics.recall_per_query(approx, gt, 10).agg(
            F.avg("recall")).first()[0]
        assert rec >= 0.9, rec

    def test_int8_two_phase_rerank_beats_pure_dequant(self, spark):
        """knn_int8_rerank (estimate on codes → exact fp32 rerank) must
        dominate pure dequantized KNN: overfetch absorbs code error."""
        from pyspark.sql import functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark import metrics
        from extended_rabitq_spark.operators import embcodec, knn

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        gt = knn.exact_knn(qs, base, k=10)
        out = embcodec.knn_int8_rerank(qs, base, coarse_k=50, k=10)
        rec = metrics.recall_per_query(out, gt, 10).agg(
            F.avg("recall")).first()[0]
        assert rec >= 0.95, rec

    def test_int8_rerank_full_coarse_is_exact(self, spark):
        """coarse_k = |base| ⇒ the estimate phase filters nothing and the
        exact rerank must reproduce brute-force KNN bitwise."""
        from pyspark.sql import functions as F

        from conftest import SF_SMOKE
        from extended_rabitq_spark.operators import embcodec, knn

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        qs = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        n = base.count()
        got = sorted(map(tuple, embcodec.knn_int8_rerank(qs, base, coarse_k=n, k=10).collect()))
        want = sorted(map(tuple, knn.exact_knn(qs, base, k=10).collect()))
        assert got == want

"""The one per-query order of every KNN operator: ``(dist ASC NULLS LAST,
id ASC)`` — written once in ``knn.topk`` and finished by
``knn.rerank_exact`` in every estimate → exact-rerank operator.

Two properties, checked on every routed operator:

- exact ties (duplicate base vectors) rank 1..k with ids ascending inside
  each tie;
- a NULL distance (a NULL or short vector) ranks after every finite one,
  as the DuckDB oracles order it (``default_null_order = nulls_last``).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from extended_rabitq_spark.operators import (
    adaptive, binary, embcodec, ivf, knn, pq, rabitq, retrieval,
)

D, M, DSUB = 8, 2, 4


def _per_query(rows, value):
    """{qid: [(rank, id, value), ...] in rank order}."""
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(r["qid"], []).append((r["rank"], r["id"], r[value]))
    return out


def _assert_nulls_last(rows, value):
    for qid, got in _per_query(rows, value).items():
        nulls = [rank for rank, _, v in got if v is None]
        finite = [rank for rank, _, v in got if v is not None]
        assert not nulls or not finite or max(finite) < min(nulls), (qid, got)


# -- ties ----------------------------------------------------------------


@pytest.fixture(scope="module")
def tie_fixture(spark, tmp_path_factory):
    """12 distinct vectors, each stored under 4 ids that are not in
    insertion order, shuffled over partitions; 3 queries; 3 clusters."""
    rng = np.random.default_rng(11)
    protos = rng.standard_normal((12, D)).round(3)
    rows = [
        (int(copy * 100 + (7 * i) % 12), [float(x) for x in protos[i]])
        for copy in (3, 0, 2, 1)
        for i in range(12)
    ]
    base = spark.createDataFrame(rows, "id long, vec array<double>").repartition(4)
    qs = spark.createDataFrame(
        [(int(q), [float(x) for x in protos[q] + 0.05]) for q in (0, 5, 9)],
        "qid long, qvec array<double>",
    )
    cents = ivf.label_centroids(
        base.withColumn("label", F.col("id") % 3), vec="vec"
    ).cache()
    indexed = ivf.assign_clusters(base, cents)
    probes = ivf.select_probes(qs, cents, 3)
    path = str(tmp_path_factory.mktemp("ivfpq_ties") / "idx")
    pq.save_ivfpq_index(base, cents, path, m=M, dsub=DSUB)
    return dict(base=base, qs=qs, cents=cents, indexed=indexed, probes=probes,
                path=path)


K, COARSE = 10, 20

TIE_CASES = {
    "exact_knn": lambda s, f: knn.exact_knn(f["qs"], f["base"], K),
    "exact_knn_combined": lambda s, f: knn.exact_knn_combined(f["qs"], f["base"], K),
    "ivf_search": lambda s, f: ivf.ivf_search(f["qs"], f["indexed"], f["cents"], 3, K),
    "exact_probe_search": lambda s, f: adaptive.exact_probe_search(
        f["qs"], f["indexed"], f["probes"], K),
    "hamming_knn": lambda s, f: binary.hamming_knn(f["qs"], f["base"], K),
    "hamming_knn_packed": lambda s, f: binary.hamming_knn_packed(f["qs"], f["base"], K),
    "hamming_rerank_knn": lambda s, f: binary.hamming_rerank_knn(
        f["qs"], f["base"], COARSE, K),
    "knn_int8_rerank": lambda s, f: embcodec.knn_int8_rerank(
        f["qs"], f["base"], COARSE, K),
    "pq_adc_knn": lambda s, f: pq.pq_adc_knn(
        f["qs"], f["base"], pq.subspace_codebooks(f["cents"], M, DSUB), M, DSUB,
        COARSE, K),
    "ivfpq_knn": lambda s, f: pq.ivfpq_knn(
        f["qs"], f["base"], f["cents"], M, DSUB, 3, COARSE, K),
    "search_ivfpq_index": lambda s, f: pq.search_ivfpq_index(
        s, f["path"], f["qs"], 3, COARSE, K, rerank_base=f["base"]),
    "search_ivfpq_index_adc": lambda s, f: pq.search_ivfpq_index(
        s, f["path"], f["qs"], 3, COARSE, K),
    "mrl_prefix_knn": lambda s, f: retrieval.mrl_prefix_knn(
        f["qs"], f["base"], 4, COARSE, K),
}


@pytest.mark.parametrize("op", sorted(TIE_CASES))
def test_ties_rank_by_id(spark, tie_fixture, op):
    df = TIE_CASES[op](spark, tie_fixture)
    value = df.columns[3]
    got = _per_query(df.collect(), value)
    assert sorted(got) == [0, 5, 9]
    n_ties = 0
    for qid, ranked in got.items():
        assert [r for r, _, _ in ranked] == list(range(1, K + 1)), (qid, ranked)
        for (_, id_a, v_a), (_, id_b, v_b) in zip(ranked, ranked[1:]):
            assert v_a <= v_b, (qid, ranked)
            if v_a == v_b:
                n_ties += 1
                assert id_a < id_b, (qid, ranked)
    assert n_ties > 0  # the fixture exercised the id tie-break


# -- NULL distances ------------------------------------------------------


@pytest.fixture(scope="module")
def malformed(spark):
    """200×16 base with id 57's vector NULL and id 91's cut to 8 coords;
    3 queries drawn from the same distribution."""
    rng = np.random.default_rng(5)
    X = rng.standard_normal((200, 16))
    rows = [(i, [float(x) for x in X[i]]) for i in range(200)]
    bad = [
        (i, None if i == 57 else (v[:8] if i == 91 else v)) for i, v in rows
    ]
    Q = rng.standard_normal((3, 16))
    qs = spark.createDataFrame(
        [(q, [float(x) for x in Q[q]]) for q in range(3)],
        "qid long, qvec array<double>",
    )
    schema = "id long, vec array<double>"
    return dict(
        good=spark.createDataFrame(rows, schema).repartition(2),
        bad=spark.createDataFrame(bad, schema).repartition(2),
        qs=qs,
    )


def test_exact_knn_ranks_null_distances_last(malformed):
    rows = knn.exact_knn(malformed["qs"], malformed["bad"], k=3).collect()
    assert len(rows) == 9
    _assert_nulls_last(rows, "dist")
    # kept, not dropped: over the whole base the two malformed ids rank last
    full = knn.exact_knn(malformed["qs"], malformed["bad"], k=200).collect()
    _assert_nulls_last(full, "dist")
    assert {(r.qid, r.rank, r.id) for r in full if r.dist is None} == {
        (q, rank, id_) for q in range(3) for rank, id_ in ((199, 57), (200, 91))
    }


def test_int8_rerank_ranks_short_vector_last(malformed):
    rows = embcodec.knn_int8_rerank(
        malformed["qs"], malformed["bad"], coarse_k=10, k=3
    ).collect()
    assert len(rows) == 9
    _assert_nulls_last(rows, "dist")


def test_rabitq_rerank_ranks_null_base_vector_last(spark, malformed):
    """An indexed id whose rerank-base vector is NULL gets a NULL exact
    distance; it must not take rank 1."""
    good = malformed["good"]
    cents = ivf.label_centroids(good.withColumn("label", F.col("id") % 4), vec="vec")
    codes, meta = rabitq.build_index(good, cents, total_bits=4)
    cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
    rb = good.select(
        "id", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("vec")).alias("vec")
    )
    rows = rabitq.rabitq_search(
        malformed["qs"], codes, cents_full, meta, nprobe=4, k=3,
        refine=None, rerank_base=rb,
    ).collect()
    assert len(rows) == 9
    _assert_nulls_last(rows, "est_dist")
    assert all(r.id != 3 for r in rows if r.rank == 1)

"""ANN-core registered queries (SURVEY §2.2/§2.3/§2.5) with DuckDB oracles.

Query/base split: ``vec_id < NQ`` of ``embeddings`` are queries, the rest
base — the deterministic analog of the reference's random holdout
(``python/download_dataset.py:17-22``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import oracle as O
from ..functions import vector as V
from ..operators import knn
from ..registry import register
from ..tables import NQ, base_vectors, query_vectors, read_parquet, embedding_dim

K = 10


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return query_vectors(spark, sf_dir).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def _base_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return base_vectors(spark, sf_dir).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


_KNN_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {NQ}),
     b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {NQ}),
     d AS (SELECT q.qid, b.id, {O.l2sq('q.qvec', 'b.vec')} AS dist FROM b CROSS JOIN q),
     r AS (SELECT qid, id, dist,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS BIGINT) AS rank
           FROM d)
SELECT qid, rank, id, dist FROM r WHERE rank <= {K}
"""


@register("knn_exact", _KNN_ORACLE)
def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 brute-force exact KNN: cross join + distance + top-k window
    (python/compute_gt.py:12-19 as a Spark query)."""
    return knn.exact_knn(_queries_df(spark, sf_dir), _base_df(spark, sf_dir), k=K, dim=embedding_dim(spark, sf_dir))


@register("knn_exact_combined", _KNN_ORACLE)
def knn_exact_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path exact KNN (map-side partial top-k) — value-equal to
    knn_exact, so it shares the same oracle: numpy only *selects* the
    per-partition candidate superset (all rows at or below the k-th
    distance, so BLAS-order ties can't drop a true neighbor); distances
    are recomputed declaratively and the final top-k tie-breaks
    (dist, id) exactly like the oracle."""
    return knn.exact_knn_combined(_queries_df(spark, sf_dir), _base_df(spark, sf_dir), k=K, dim=embedding_dim(spark, sf_dir))


_COSINE_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {NQ}),
     b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {NQ}),
     d AS (SELECT q.qid, b.id, 1.0 - ({O.cosine_sim('q.qvec', 'b.vec')}) AS dist FROM b CROSS JOIN q),
     r AS (SELECT qid, id, dist,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS BIGINT) AS rank
           FROM d)
SELECT qid, rank, id, round(dist, 6) + 0.0 AS dist_r FROM r WHERE rank <= {K}
"""


@register("knn_cosine", _COSINE_ORACLE)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-metric brute-force top-k (reference does cosine as L2 on
    normalized vectors, python/utils/preprocess.py:3-5; we expose the
    direct expression). dist rounded for cross-engine hash stability of
    the division."""
    df = knn.exact_knn(_queries_df(spark, sf_dir), _base_df(spark, sf_dir), k=K, metric="cosine", dim=embedding_dim(spark, sf_dir))
    # + 0.0 canonicalizes IEEE negative zero: with exact-duplicate
    # vectors, 1 - cos lands on ±0.0 whose SIGN differs across engines
    # (the fold orders round cos to either side of 1.0); -0.0 + 0.0 is
    # +0.0 in IEEE, applied in the oracle SQL too.  Found by the sf1
    # twin-replication soak (tools/sf1_embeddings_parity.py).
    return df.select(
        "qid", "rank", "id", (F.round("dist", 6) + F.lit(0.0)).alias("dist_r")
    )


_VEC_STATS_ORACLE = f"""
SELECT vec_id,
       round({O.norm('embedding')}, 6) AS norm_r,
       round({O.vec_sum('embedding')}, 6) AS vsum_r,
       {O.popcount('embedding')} AS positive_dims
FROM embeddings
"""


@register("vector_stats", _VEC_STATS_ORACLE)
def vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local vector reductions: norm (P4 prereq), Σx (P9), sign
    popcount (P5+P9) — the per-vector factor aggregates' building blocks
    (inc/index/Quantizer.hpp:386-437)."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id",
        F.round(F.expr(V.norm("embedding")), 6).alias("norm_r"),
        F.round(F.expr(V.vec_sum("embedding")), 6).alias("vsum_r"),
        F.expr(V.popcount("embedding")).alias("positive_dims"),
    )


_IP_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {NQ}),
     b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {NQ}),
     d AS (SELECT q.qid, b.id, -({O.dot('q.qvec', 'b.vec')}) AS dist FROM b CROSS JOIN q),
     r AS (SELECT qid, id, dist,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS BIGINT) AS rank
           FROM d)
SELECT qid, rank, id, dist FROM r WHERE rank <= {K}
"""


@register("knn_ip", _IP_ORACLE)
def knn_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-inner-product top-k (the reference's IP metric surface,
    SURVEY §2.10; MIP as min of negated IP, bitwise dist parity)."""
    return knn.exact_knn(_queries_df(spark, sf_dir), _base_df(spark, sf_dir), k=K, metric="ip", dim=embedding_dim(spark, sf_dir))


_FILTERED_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {NQ}),
     b AS (SELECT e.vec_id AS id, e.embedding AS vec
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
           WHERE e.vec_id >= {NQ} AND d.lang = 'en'),
     d AS (SELECT q.qid, b.id, {O.l2sq('q.qvec', 'b.vec')} AS dist FROM b CROSS JOIN q),
     r AS (SELECT qid, id, dist,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS BIGINT) AS rank
           FROM d)
SELECT qid, rank, id, dist FROM r WHERE rank <= {K}
"""


@register("knn_filtered", _FILTERED_ORACLE)
def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN (standard vector-DB surface beyond the
    reference): restrict the base to vectors whose document metadata
    matches a predicate (here lang='en'), then top-k.  The filter is a
    LEFT SEMI join — at scale it prunes the candidate space BEFORE the
    probe/scan (pre-filtering), so the filtered index scan reads only
    matching rows; the alternative post-filter (search then drop) loses
    recall under selective predicates.  Scale path: the same semi join
    composes in front of ivf_search/rabitq_search unchanged."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    keep = docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("id"))
    base = _base_df(spark, sf_dir).join(keep, on="id", how="left_semi")
    return knn.exact_knn(_queries_df(spark, sf_dir), base, k=K, dim=embedding_dim(spark, sf_dir))


_RESIDUAL_ORACLE = f"""
WITH ex AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val
            FROM embeddings WHERE vec_id >= {NQ}),
pd AS (SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 6) AS c FROM ex GROUP BY label, pos),
cent AS (SELECT label, list(c ORDER BY pos) AS centroid FROM pd GROUP BY label),
r AS (SELECT e.vec_id,
             {O.l2sq('e.embedding', 'c.centroid')} AS r2,
             {O.vec_sum('e.embedding')} - {O.vec_sum('c.centroid')} AS rsum
      FROM embeddings e JOIN cent c ON e.label = c.label
      WHERE e.vec_id >= {NQ})
SELECT vec_id, round(sqrt(r2), 6) AS res_norm_r, round(rsum, 6) AS res_sum_r FROM r
"""


@register("residual_stats", _RESIDUAL_ORACLE)
def residual_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 residual (x − centroid) statistics per vector: residual norm and
    component sum (inc/index/Quantizer.hpp:344-350; the padding P1 is a
    no-op on norms since pad components are exactly 0)."""
    from ..operators.ivf import label_centroids
    from ..tables import base_vectors

    base = base_vectors(spark, sf_dir)
    cents = label_centroids(base).withColumnRenamed("cluster_id", "label")
    joined = base.join(F.broadcast(cents), on="label")
    return joined.select(
        "vec_id",
        F.round(F.sqrt(F.expr(V.l2sq("embedding", "centroid"))), 6).alias("res_norm_r"),
        F.round(
            F.expr(V.vec_sum("embedding")) - F.expr(V.vec_sum("centroid")), 6
        ).alias("res_sum_r"),
    )


_NORM_ORACLE = f"""
WITH n AS (SELECT vec_id,
                  CASE WHEN {O.norm('embedding')} < 1e-20
                       THEN list_transform(embedding, x -> 1.0 / sqrt(CAST(len(embedding) AS DOUBLE)))
                       ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / {O.norm('embedding')}) END
                    AS nv
           FROM embeddings)
SELECT vec_id,
       round({O.norm('nv')}, 6) AS unit_norm_r,
       round({O.vec_sum('nv')}, 6) AS nsum_r
FROM n
"""


@register("normalize_vectors", _NORM_ORACLE)
def normalize_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 row L2-normalization with the reference's zero-norm → 1/√D
    fallback (inc/utils/space.hpp:749-778; python/utils/preprocess.py:3-5
    uses this to reduce cosine to L2).  Emits the unit-norm check and
    component sum."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    d = emb.select("vec_id", F.expr(V.l2_normalize("embedding")).alias("nv"))
    return d.select(
        "vec_id",
        F.round(F.expr(V.norm("nv")), 6).alias("unit_norm_r"),
        F.round(F.expr(V.vec_sum("nv")), 6).alias("nsum_r"),
    )


RADIUS2 = 1.45  # sf-fixture scale: ~1% of pair distances fall inside

_RANGE_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {NQ}),
     b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {NQ}),
     d AS (SELECT q.qid, b.id, {O.l2sq('q.qvec', 'b.vec')} AS dist FROM b CROSS JOIN q)
SELECT qid, id, dist FROM d WHERE dist <= {RADIUS2}
"""


@register("knn_range", _RANGE_ORACLE)
def knn_range_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query (top-k's sibling shape, e.g. faiss range_search):
    all base rows within squared L2 RADIUS2 per query.  Declarative
    exact form; the RaBitQ-accelerated variant
    (rabitq.rabitq_range_search: est_lb cut + exact verify) is asserted
    equal at full probes in tests/test_rabitq.py."""
    return knn.range_search(
        _queries_df(spark, sf_dir), _base_df(spark, sf_dir), radius2=RADIUS2,
        dim=embedding_dim(spark, sf_dir),
    )


@register("knn_range_rabitq", _RANGE_ORACLE)
def knn_range_rabitq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accelerated range query sharing the exact oracle: full probes
    (no cluster misses) + widened error-bound candidate cut (slack=3
    error units) + exact-distance verify ⟹ equals the declarative
    form on the fixtures (deterministic — same data, same build, same
    result every run; the widened-cut tail risk is a fixed property of
    this data, asserted here and in tests)."""
    from ..operators import ivf, rabitq

    base = _base_df(spark, sf_dir)
    qs = _queries_df(spark, sf_dir)
    cents = ivf.label_centroids(
        read_parquet(spark, f"{sf_dir}/embeddings.parquet").where(F.col("vec_id") >= NQ)
    )
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
    n_clusters = cents.count()
    return rabitq.rabitq_range_search(
        qs, index_df, cents_full, meta, radius2=RADIUS2,
        nprobe=n_clusters, rerank_base=base,
    )


@register("knn_filtered_rabitq", _FILTERED_ORACLE)
def knn_filtered_rabitq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accelerated metadata-filtered ANN sharing knn_filtered's exact
    oracle: the allowed-id set left-semi-joins the INDEX rows (so only
    matching codes are ever scored — pre-filtering at the index level,
    the standard vector-DB filtered-search design), then full probes +
    ``refine=None`` + exact re-rank make the result provably equal to
    the exact form.  At production settings nprobe/refine become the
    recall knobs exactly as in unfiltered search; the filter composes
    with partition pruning (probed AND allowed)."""
    from ..operators import ivf, rabitq

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    keep = docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("id"))
    base = _base_df(spark, sf_dir)
    qs = _queries_df(spark, sf_dir)
    cents = ivf.label_centroids(
        read_parquet(spark, f"{sf_dir}/embeddings.parquet").where(F.col("vec_id") >= NQ)
    )
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    index_f = index_df.join(F.broadcast(keep), on="id", how="left_semi")
    base_f = base.join(F.broadcast(keep), on="id", how="left_semi")
    cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
    n_clusters = cents.count()
    res = rabitq.rabitq_search(
        qs, index_f, cents_full, meta, nprobe=n_clusters, k=K,
        refine=None, rerank_base=base_f,
    )
    return res.select("qid", "rank", "id", F.col("est_dist").alias("dist"))


_NGROUPS = 4  # query groups for the late-interaction query

_MAXSIM_ORACLE = f"""
WITH q AS (SELECT vec_id % {_NGROUPS} AS gid, vec_id AS qid, embedding AS qvec
           FROM embeddings WHERE vec_id < {NQ}),
     b AS (SELECT label AS ent, embedding AS vec
           FROM embeddings WHERE vec_id >= {NQ}),
     d AS (SELECT gid, qid, ent, {O.dot('q.qvec', 'b.vec')} AS ip
           FROM b CROSS JOIN q),
     m AS (SELECT gid, qid, ent,
                  CAST(round(max(ip), 6) AS DECIMAL(38,6)) AS ms
           FROM d GROUP BY gid, qid, ent),
     s AS (SELECT gid, ent, CAST(sum(ms) AS DECIMAL(38,6)) AS score
           FROM m GROUP BY gid, ent),
     r AS (SELECT gid, ent, score,
                  CAST(row_number() OVER (PARTITION BY gid
                       ORDER BY score DESC, ent) AS BIGINT) AS rank
           FROM s)
SELECT gid, rank, ent, CAST(score AS DOUBLE) AS score FROM r WHERE rank <= 3
"""


@register("maxsim_label_topk", _MAXSIM_ORACLE)
def maxsim_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction multi-vector retrieval (ColBERT-style MaxSim):
    query vectors grouped ``gid = qid % 4`` form multi-vector queries;
    each ``label`` is a multi-vector entity (its member base vectors).
    score(g, e) = Σ_{q∈g} max_{v∈e} ⟨q, v⟩; top-3 entities per group.

    Beyond the reference (single-vector queries only); the Spark plan
    is two partial-agg shuffles over aggregated rows — the raw
    query×vector product never shuffles (operators.knn.maxsim_topk).
    The outer sum is DECIMAL(38,6)-exact, so the oracle hashes bitwise.
    """
    qs = _queries_df(spark, sf_dir).select(
        (F.col("qid") % _NGROUPS).alias("gid"), "qid", "qvec"
    )
    ents = base_vectors(spark, sf_dir).select(
        F.col("label").alias("ent"), F.col("embedding").alias("vec")
    )
    # Rank on the exact DECIMAL score inside maxsim_topk; project a DOUBLE
    # final (DECIMAL finals are driver-hash-hostile — see queries/tpch.py).
    return knn.maxsim_topk(qs, ents, k=3).withColumn(
        "score", F.col("score").cast("double")
    )


def _metric_twin_result(spark, sf_dir, metric: str, final_dist):
    """Shared core of the accelerated metric twins: build the
    metric-aware index (centroids trained in the index's own geometry),
    search at full probes with ``refine=None`` + exact re-rank (the
    lossless configuration — rank-equal to the brute-force form), then
    recompute the reported distance with ``final_dist`` (the oracle's
    own float fold over the raw vectors) via a broadcast-shortlist
    join so values hash bitwise."""
    from ..functions import vector as V
    from ..operators import ivf, rabitq

    base = _base_df(spark, sf_dir)
    qs = _queries_df(spark, sf_dir)
    labeled = read_parquet(spark, f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") >= NQ
    )
    mips_m = None
    if metric == "cosine":
        train = labeled.withColumn("embedding", F.expr(V.l2_normalize("embedding")))
        cents = ivf.label_centroids(train)
    else:  # ip
        aug, mips_m = rabitq.mips_prepare(base, vec="vec")
        cents = ivf.label_centroids(
            aug.join(labeled.select(F.col("vec_id").alias("id"), "label"), on="id"),
            vec="vec",
        )
    index_df, meta = rabitq.build_index(
        base, cents, total_bits=4, metric=metric, mips_m=mips_m
    )
    cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
    res = rabitq.rabitq_search(
        qs, index_df, cents_full, meta, nprobe=cents.count(), k=K,
        refine=None, rerank_base=base,
    )
    return (
        res.select("qid", "rank", "id")
        .join(base.select("id", "vec"), on="id")
        .join(F.broadcast(qs), on="qid")
        .select("qid", "rank", "id", final_dist)
    )


@register("knn_cosine_rabitq", _COSINE_ORACLE)
def knn_cosine_rabitq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accelerated cosine-metric ANN sharing knn_cosine's exact oracle:
    ``build_index(metric='cosine')`` (unit-sphere quantization) + full
    probes + ``refine=None`` + exact re-rank is provably rank-equal to
    brute-force cosine KNN; values hash bitwise via the shared
    oracle-fold shortlist recompute (:func:`_metric_twin_result`).  At
    production settings nprobe/refine become the recall knobs."""
    from ..functions import vector as V

    return _metric_twin_result(
        spark, sf_dir, "cosine",
        (
            F.round(F.expr(f"1.0 - ({V.cosine_sim('qvec', 'vec')})"), 6)
            + F.lit(0.0)
        ).alias("dist_r"),
    )


@register("knn_ip_rabitq", _IP_ORACLE)
def knn_ip_rabitq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accelerated max-inner-product ANN sharing knn_ip's exact oracle:
    ``build_index(metric='ip')`` (MIPS augmented-coordinate reduction,
    reusing the M its centroid prep computed) + full probes +
    ``refine=None`` + exact re-rank is rank-equal to brute-force IP
    KNN; values hash bitwise via the shared oracle-fold shortlist
    recompute."""
    from ..functions import vector as V

    return _metric_twin_result(
        spark, sf_dir, "ip",
        F.expr(f"-({V.dot('qvec', 'vec')})").alias("dist"),
    )


_I8_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
     s AS (SELECT vec_id, embedding,
                  CAST(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS DOUBLE) / 127.0 AS scale
           FROM e),
     c AS (SELECT vec_id, scale,
                  CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                       ELSE CAST(list_reduce(list_transform(embedding, v ->
                            floor(CAST(v AS DOUBLE) / scale + 0.5)), (x, y) -> x + y) AS BIGINT) END
                    AS code_sum,
                  CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE)
                       ELSE CAST(list_max(list_transform(embedding, v ->
                            abs(floor(CAST(v AS DOUBLE) / scale + 0.5) * scale - CAST(v AS DOUBLE)))) AS DOUBLE) END
                    AS max_err
           FROM s)
SELECT vec_id, scale, code_sum, max_err FROM c
"""


@register("embedding_int8_codec", _I8_ORACLE)
def embedding_int8_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 STORAGE codec audit (beyond-reference §2.8):
    symmetric scale = max|x|/127, floor-plus-half codes (P6 rounding
    convention), per-vector Σcodes (summed over the TINYINT codes —
    integer-exact) and max reconstruction error — the 4×-smaller
    at-rest embedding format.  One map-only codegen projection."""
    from ..operators import embcodec

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = embcodec.quantize_embeddings_int8(emb.select("vec_id", "embedding"))
    j = q.join(emb.select("vec_id", F.col("embedding").alias("orig")), "vec_id")
    return j.select(
        "vec_id",
        "scale",
        F.expr(
            "CAST(aggregate(code_i8, CAST(0 AS BIGINT), "
            "(acc, c) -> acc + CAST(c AS BIGINT)) AS BIGINT)"
        ).alias("code_sum"),
        F.expr(
            "CAST(array_max(zip_with(code_i8, orig, (c, o) -> "
            "abs(CAST(c AS DOUBLE) * scale - CAST(o AS DOUBLE)))) AS DOUBLE)"
        ).alias("max_err"),
    )


from ..operators.embcodec import d_knn_int8_rerank as _d_i8r


@register("knn_int8_rerank", _d_i8r(nq=NQ, coarse_k=50, k=K))
def knn_int8_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase KNN over the int8 storage codec: estimate on dequantized
    codes (4× less IO at rest), exact fp32 rerank on the bounded
    candidate set — the SQ analog of the RaBitQ estimate→rerank
    pipeline.  Oracle = the same two-phase plan in DuckDB SQL."""
    from ..operators import embcodec

    q = _queries_df(spark, sf_dir)
    b = _base_df(spark, sf_dir)
    return embcodec.knn_int8_rerank(q, b, coarse_k=50, k=K)


def _pq_oracle(nq: int, m: int, dsub: int, coarse_k: int, k: int) -> str:
    from .. import oracle as O

    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {nq}),
b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {nq}),
ex AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val
       FROM embeddings WHERE vec_id >= {nq}),
pd AS (SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 6) AS c FROM ex GROUP BY label, pos),
cent AS (SELECT CAST(label AS INT) AS code, list(c ORDER BY pos) AS centroid
         FROM pd GROUP BY label),
cb AS (SELECT CAST(j AS INT) AS sub_id, code,
              list_slice(centroid, j * {dsub} + 1, (j + 1) * {dsub}) AS cw
       FROM cent, range(0, {m}) t(j)),
subs AS (SELECT id, CAST(j AS INT) AS sub_id,
                list_slice(vec, j * {dsub} + 1, (j + 1) * {dsub}) AS sv
         FROM b, range(0, {m}) t(j)),
enc AS (SELECT id, sub_id, code FROM (
    SELECT s.id, s.sub_id, cb.code,
           row_number() OVER (PARTITION BY s.id, s.sub_id
                ORDER BY {O.l2sq('s.sv', 'cb.cw')} ASC, cb.code ASC) AS rn
    FROM subs s JOIN cb ON s.sub_id = cb.sub_id) WHERE rn = 1),
dec AS (SELECT e.id, flatten(list(cb.cw ORDER BY e.sub_id)) AS dvec
        FROM enc e JOIN cb ON e.sub_id = cb.sub_id AND e.code = cb.code
        GROUP BY e.id),
cp AS (SELECT q.qid, d.id, q.qvec, {O.l2sq('q.qvec', 'd.dvec')} AS dist_q
       FROM dec d CROSS JOIN q),
cand AS (SELECT qid, id, qvec FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY qid
              ORDER BY dist_q ASC, id ASC) AS BIGINT) AS crank FROM cp)
    WHERE crank <= {coarse_k}),
fin AS (SELECT c.qid, c.id, {O.l2sq('c.qvec', 'b2.vec')} AS dist
        FROM cand c JOIN b b2 ON c.id = b2.id),
rk AS (SELECT qid, id, dist,
              CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dist ASC, id ASC) AS BIGINT) AS rank
       FROM fin)
SELECT qid, rank, id, dist FROM rk WHERE rank <= {k}
"""


@register("knn_pq_adc", _pq_oracle(nq=NQ, m=4, dsub=16, coarse_k=50, k=K))
def knn_pq_adc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (beyond-reference §2.8 — the FAISS
    IndexPQ family next to RaBitQ): m=4 subspaces × 16 dims, label-mean
    codebooks (the deterministic oracle twin of per-subspace k-means —
    production trains via operators/pq.train_pq_codebooks), estimate on
    decoded codewords, exact fp32 rerank on the broadcast shortlist."""
    from ..operators import ivf as ivf_ops
    from ..operators import pq
    from ..tables import base_vectors

    base_full = base_vectors(spark, sf_dir)
    cents = ivf_ops.label_centroids(base_full).select(
        "cluster_id", "centroid"
    )
    cb = pq.subspace_codebooks(cents, m=4, dsub=16)
    q = _queries_df(spark, sf_dir)
    b = _base_df(spark, sf_dir)
    return pq.pq_adc_knn(q, b, cb, m=4, dsub=16, coarse_k=50, k=K)


_HAMMING_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {NQ}),
     b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {NQ}),
     d AS (SELECT q.qid, b.id, {O.hamming('q.qvec', 'b.vec')} AS hamming FROM b CROSS JOIN q),
     r AS (SELECT qid, id, hamming,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS BIGINT) AS rank
           FROM d)
SELECT qid, rank, id, hamming FROM r WHERE rank <= {K}
"""


@register("knn_hamming", _HAMMING_ORACLE)
def knn_hamming_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit sign) Hamming top-k — the storage-minimal end of the
    quantization spectrum the reference's RaBitQ generalizes (B=1 sign
    binarization, inc/index/Quantizer.hpp:356-361, minus the scaling
    factors).  INTEGER distances end-to-end: the cleanest hashable
    approximate-family row.  Scale twin: operators/binary.hamming_knn_packed
    (32 bits/BIGINT word — pack_sign_bits avoids the signed-BIGINT MSB,
    Σ bit_count(xor)) is value-equal by test."""
    from ..operators import binary

    return binary.hamming_knn(_queries_df(spark, sf_dir), _base_df(spark, sf_dir), k=K)


def _binary_rerank_oracle(nq: int, coarse_k: int, k: int) -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {nq}),
     b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {nq}),
     d AS (SELECT q.qid, b.id, {O.hamming('q.qvec', 'b.vec')} AS hamming FROM b CROSS JOIN q),
     cand AS (SELECT qid, id FROM (
         SELECT qid, id,
                CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS BIGINT) AS crank
         FROM d) WHERE crank <= {coarse_k}),
     fin AS (SELECT c.qid, c.id, {O.l2sq('q.qvec', 'b2.vec')} AS dist
             FROM cand c JOIN q ON q.qid = c.qid JOIN b b2 ON b2.id = c.id),
     rk AS (SELECT qid, id, dist,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY dist ASC, id ASC) AS BIGINT) AS rank
            FROM fin)
SELECT qid, rank, id, dist FROM rk WHERE rank <= {k}
"""


@register("knn_binary_rerank", _binary_rerank_oracle(nq=NQ, coarse_k=50, k=K))
def knn_binary_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase binary search (the E1→E3 estimate→rerank shape over
    1-bit codes): Hamming shortlist (top-50, ties → smaller id), exact
    fp32 L2 re-rank of the broadcast shortlist only.  At 100 TB the
    estimate pass scans 1/16 of the fp32 bytes via the packed twin
    (array<bigint>, 32 bits used per 8-byte word → D/4 bytes vs 4·D;
    a dedicated D/8-byte binary sink would make it 1/32) and the full
    vectors are read only for the rank-bounded shortlist join."""
    from ..operators import binary

    return binary.hamming_rerank_knn(
        _queries_df(spark, sf_dir), _base_df(spark, sf_dir), coarse_k=50, k=K
    )


def _ivfpq_oracle(nq: int, m: int, dsub: int, nprobe: int, coarse_k: int, k: int) -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {nq}),
b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {nq}),
ex AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val
       FROM embeddings WHERE vec_id >= {nq}),
pd AS (SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 6) AS c FROM ex GROUP BY label, pos),
cent AS (SELECT CAST(label AS INT) AS cluster_id, list(c ORDER BY pos) AS centroid
         FROM pd GROUP BY label),
asg AS (SELECT id, vec, cluster_id FROM (
    SELECT b.id, b.vec, c.cluster_id,
           row_number() OVER (PARTITION BY b.id
                ORDER BY {O.l2sq('b.vec', 'c.centroid')} ASC, c.cluster_id ASC) AS rn
    FROM b CROSS JOIN cent c) WHERE rn = 1),
res AS (SELECT a.id, a.cluster_id,
               list_transform(list_zip(a.vec, c.centroid),
                    p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS rvec
        FROM asg a JOIN cent c ON a.cluster_id = c.cluster_id),
subs AS (SELECT id, CAST(j AS INT) AS sub_id,
                list_slice(rvec, j * {dsub} + 1, (j + 1) * {dsub}) AS sv
         FROM res, range(0, {m}) t(j)),
kex AS (SELECT sub_id,
               CAST((CASE WHEN sv[1] > 0 THEN 4 ELSE 0 END) +
                    (CASE WHEN sv[2] > 0 THEN 2 ELSE 0 END) +
                    (CASE WHEN sv[3] > 0 THEN 1 ELSE 0 END) AS INT) AS code,
               generate_subscripts(sv, 1) - 1 AS pos, unnest(sv) AS val
        FROM subs),
cb AS (SELECT sub_id, code, list(c ORDER BY pos) AS cw FROM (
    SELECT sub_id, code, pos, round(avg(val), 6) AS c FROM kex GROUP BY sub_id, code, pos)
    GROUP BY sub_id, code),
enc AS (SELECT id, sub_id, code FROM (
    SELECT s.id, s.sub_id, cb.code,
           row_number() OVER (PARTITION BY s.id, s.sub_id
                ORDER BY {O.l2sq('s.sv', 'cb.cw')} ASC, cb.code ASC) AS rn
    FROM subs s JOIN cb ON s.sub_id = cb.sub_id) WHERE rn = 1),
dec AS (SELECT e.id, flatten(list(cb.cw ORDER BY e.sub_id)) AS dvec
        FROM enc e JOIN cb ON e.sub_id = cb.sub_id AND e.code = cb.code
        GROUP BY e.id),
apx AS (SELECT d.id, r.cluster_id,
               list_transform(list_zip(c.centroid, d.dvec),
                    p -> CAST(p[1] AS DOUBLE) + CAST(p[2] AS DOUBLE)) AS avec
        FROM dec d JOIN res r ON d.id = r.id JOIN cent c ON r.cluster_id = c.cluster_id),
pr AS (SELECT qid, cluster_id FROM (
    SELECT q.qid, c.cluster_id,
           row_number() OVER (PARTITION BY q.qid
                ORDER BY {O.l2sq('q.qvec', 'c.centroid')} ASC, c.cluster_id ASC) AS prk
    FROM q CROSS JOIN cent c) WHERE prk <= {nprobe}),
cp AS (SELECT q.qid, a.id, q.qvec, {O.l2sq('q.qvec', 'a.avec')} AS dist_q
       FROM apx a JOIN pr ON a.cluster_id = pr.cluster_id JOIN q ON q.qid = pr.qid),
cand AS (SELECT qid, id, qvec FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY qid
              ORDER BY dist_q ASC, id ASC) AS BIGINT) AS crank FROM cp)
    WHERE crank <= {coarse_k}),
fin AS (SELECT c.qid, c.id, {O.l2sq('c.qvec', 'b2.vec')} AS dist
        FROM cand c JOIN b b2 ON c.id = b2.id),
rk AS (SELECT qid, id, dist,
              CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY dist ASC, id ASC) AS BIGINT) AS rank
       FROM fin)
SELECT qid, rank, id, dist FROM rk WHERE rank <= {k}
"""


@register("knn_ivfpq", _ivfpq_oracle(nq=NQ, m=4, dsub=16, nprobe=3, coarse_k=50, k=K))
def knn_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (FAISS IndexIVFPQ — the classic relative of the
    reference's IVF+RaBitQ layout): label-mean coarse centroids (the
    deterministic k-means stand-in every IVF oracle uses), PQ over
    RESIDUALS with deterministic octant-mean codebooks (production:
    train_pq_codebooks on residuals), nprobe=3 probe join (the partition
    -pruning analog of rabitq_search), ADC estimate on reconstructed
    candidates, exact fp32 rerank of the top-50 shortlist."""
    from ..operators import ivf as ivf_ops
    from ..operators import pq
    from ..tables import base_vectors

    cents = ivf_ops.label_centroids(base_vectors(spark, sf_dir)).select(
        "cluster_id", "centroid"
    )
    q = _queries_df(spark, sf_dir)
    b = _base_df(spark, sf_dir)
    return pq.ivfpq_knn(q, b, cents, m=4, dsub=16, nprobe=3, coarse_k=50, k=K)


@register("knn_opq_adc")  # rows-only: the OPQ rotation is trained by
# driver-side numpy alternating minimization (Lloyd's + Procrustes SVD)
# — not SQL-expressible.  Semantics pinned by tests/test_pq.py::TestOPQ
# (orthonormality, distortion < plain PQ, rerank dists == true L2).
def knn_opq_adc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-ADC search (Ge et al. 2013 — FAISS OPQMatrix+IndexPQ): learn
    an orthonormal rotation minimizing PQ reconstruction error on a
    driver sample, rotate both sides via one Arrow matmul (map-only),
    then the plain PQ estimate→rerank pipeline in the rotated space
    (L2 is rotation-invariant, so distances match the original space)."""
    from ..operators import pq

    q = _queries_df(spark, sf_dir)
    b = _base_df(spark, sf_dir)
    R, cb = pq.train_opq(b, m=4, ksub=16, opq_iters=4, seed=42)
    return pq.opq_adc_knn(q, b, R, cb, m=4, dsub=16, coarse_k=50, k=K)


def _eval_hamming_oracle(nq: int, k: int) -> str:
    from ..operators import evalmetrics as EV

    res = f"""
SELECT qid, rank, id FROM (
  SELECT qid, id,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, id) AS BIGINT) AS rank
  FROM (SELECT q.vec_id AS qid, b.vec_id AS id,
               {O.hamming('q.embedding', 'b.embedding')} AS hamming
        FROM embeddings b, embeddings q
        WHERE q.vec_id < {nq} AND b.vec_id >= {nq})
) WHERE rank <= {k}"""
    gt = f"""
SELECT qid, rank, id FROM (
  SELECT qid, id,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS BIGINT) AS rank
  FROM (SELECT q.vec_id AS qid, b.vec_id AS id,
               {O.l2sq('q.embedding', 'b.embedding')} AS dist
        FROM embeddings b, embeddings q
        WHERE q.vec_id < {nq} AND b.vec_id >= {nq})
) WHERE rank <= {k}"""
    return EV.d_retrieval_eval(res, gt, k)


@register("retrieval_eval_hamming", _eval_hamming_oracle(nq=NQ, k=K))
def retrieval_eval_hamming_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranker grading (beyond J4/J5 recall+ratio): per-query hit count,
    MRR and nDCG of the 1-bit Hamming searcher against exact-L2 ground
    truth — micro-unit FIXED-POINT integers (the DCG discount table is
    precomputed in Python and frozen identically into both engines), so
    the whole metric row is BIGINT and hash-stable."""
    from ..operators import binary, evalmetrics

    q = _queries_df(spark, sf_dir)
    b = _base_df(spark, sf_dir)
    res = binary.hamming_knn(q, b, k=K)
    gt = knn.exact_knn(q, b, k=K, dim=embedding_dim(spark, sf_dir))
    return evalmetrics.retrieval_eval(res, gt, k=K)


def _hard_negatives_oracle(nq: int, dup_tau: float, k: int) -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {nq}),
     b AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= {nq}),
     d AS (SELECT q.qid, b.id, {O.l2sq('q.qvec', 'b.vec')} AS dist,
                  {O.cosine_sim('q.qvec', 'b.vec')} AS cos
           FROM b CROSS JOIN q),
     f AS (SELECT qid, id, dist FROM d WHERE cos < {dup_tau}),
     r AS (SELECT qid, id, dist,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS BIGINT) AS rank
           FROM f)
SELECT qid, rank, id, dist FROM r WHERE rank <= {k}
"""


@register("mine_hard_negatives", _hard_negatives_oracle(nq=NQ, dup_tau=0.92, k=K))
def mine_hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep: for each anchor embedding, the
    k NEAREST documents that are NOT near-duplicates (cosine < 0.92) —
    hard negatives: close enough to be informative, far enough to not
    be false negatives.  One broadcast cross join computes both the
    L2 rank metric and the cosine dup gate in a single codegen pass;
    at 100 TB the accelerated twin runs the same predicate over the
    index shortlist (knn_filtered_rabitq's semi-join shape)."""
    from ..functions import vector as V

    # staged per-row norms for the cos gate + unrolled l2 (r10): the
    # NQ·N stage pays one unrolled l2 + one dot fold per pair instead
    # of one HOF l2 + three folds — bitwise-identical
    q = _queries_df(spark, sf_dir).withColumn("_qn", F.expr(V.norm("qvec")))
    b = _base_df(spark, sf_dir).withColumn("_bn", F.expr(V.norm("vec")))
    dim = embedding_dim(spark, sf_dir)
    pairs = b.crossJoin(F.broadcast(q)).select(
        "qid",
        "id",
        F.expr(V.l2sq("qvec", "vec", dim)).alias("dist"),
        F.expr(V.cosine_sim_staged("qvec", "vec", "_qn", "_bn")).alias("cos"),
    )
    return knn.topk(pairs.where(F.col("cos") < 0.92), K)

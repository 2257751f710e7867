"""Registered dedup queries + DuckDB oracles (north-star surface).

Every query here is fully SQL-expressible — the oracle reproduces the
hashes (portable md5-based hash60), shingles, signatures, band collisions,
and verification joins exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup
from ..operators import semdedup as semdedup_ops
from ..registry import register
from ..tables import read_parquet

_D_NORM = T.d_norm_text("text")
_D_TOKS = T.d_tokens("text")

_EXACT_ORACLE = f"""
SELECT md5({_D_NORM}) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


@register("dedup_exact", _EXACT_ORACLE)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, min-id survivor."""
    return dedup.exact_dedup(read_parquet(spark, f"{sf_dir}/documents.parquet"))


_SHINGLE_CTES = f"""
nrm AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
shl AS (SELECT doc_id, {T.d_shingles3('toks')} AS sh FROM nrm),
sh0 AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
freq AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN freq USING (shingle)
       WHERE freq.df <= {dedup.DF_CAP}),
sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id)"""

def _jaccard_oracle(threshold: float) -> str:
    # the all-pairs shingle equi-join form: the SPEC for both the
    # all-shingle Spark join (dedup_ngram_jaccard) and the
    # prefix-filtered exact join (dedup_jaccard_prefix) — two algorithms,
    # one answer
    return f"""
WITH {_SHINGLE_CTES},
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
j AS (SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) AS jac
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard_r FROM j WHERE jac >= {threshold}
"""


_JACCARD_ORACLE = _jaccard_oracle(0.5)


@register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-shingle Jaccard near-dup pairs (shingle equi-join, no O(N²))."""
    from ..tables import spread_small_scan

    return dedup.ngram_jaccard_pairs(
        spread_small_scan(
            read_parquet(spark, f"{sf_dir}/documents.parquet"), spark
        )
    )


def _d_sig_cols() -> str:
    # Same permutation family as the Spark side (functions.text): the
    # base md5 appears once per permutation textually — the oracle only
    # needs value parity, not the Spark side's single-hash efficiency.
    h = T.d_hash60("shingle")
    return ",\n       ".join(
        f"min({T.d_minhash_perm(i, h)}) AS sig_{i}"
        for i in range(dedup.N_MINHASH)
    )


_ROWS = dedup.N_MINHASH // dedup.N_BANDS

_BANDS_UNION = "\nUNION ALL\n".join(
    f"SELECT doc_id, {bi} AS band, "
    + " || ',' || ".join(
        f"CAST(sig_{bi * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
    )
    + " AS key FROM sigs"
    for bi in range(dedup.N_BANDS)
)

_MINHASH_ORACLE = f"""
WITH {_SHINGLE_CTES},
sigs AS (SELECT doc_id, {_d_sig_cols()} FROM sh GROUP BY doc_id),
bands AS ({_BANDS_UNION}),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
         WHERE x.doc_id < y.doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2),
j AS (SELECT c.doc_a, c.doc_b,
             CAST(coalesce(i.inter, 0) AS DOUBLE)
               / (sa.nsh + sb.nsh - coalesce(i.inter, 0)) AS jac
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard_r FROM j WHERE jac >= 0.4
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands) near-dup with exact-Jaccard verification."""
    from ..tables import spread_small_scan

    # shingle+minhash map stage is CPU-bound — spread a tiny scan across
    # cores (no-op at scale; see tables.spread_small_scan)
    return dedup.minhash_lsh_pairs(
        spread_small_scan(
            read_parquet(spark, f"{sf_dir}/documents.parquet"), spark
        )
    )


@register("dedup_jaccard_prefix", _jaccard_oracle(0.6))
def dedup_jaccard_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold join via prefix filtering (SSJoin/PPJoin
    family): joins only the rarest |x|−⌈t|x|⌉+1 shingles per doc — a
    provably-complete candidate set far smaller than the all-shingle
    join's, verified with exact Jaccard (losslessness pinned in
    tests/test_dedup_text.py at five thresholds)."""
    from ..tables import spread_small_scan

    return dedup.jaccard_prefix_pairs(
        spread_small_scan(
            read_parquet(spark, f"{sf_dir}/documents.parquet"), spark
        ),
        threshold=0.6,
    )


def dedup_minhash_lsh_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNREGISTERED production twin of ``dedup_minhash_lsh``: xxh64
    shingle hashing (JVM-native, no md5 string round-trip).  Candidate
    discovery uses a different hash family, so it is bench-only — the
    oracle row stays on the portable md5 hash; the equivalence of
    VERIFIED pairs on the test corpora is pinned by
    tests/test_dedup_text.py."""
    from ..tables import spread_small_scan

    return dedup.minhash_lsh_pairs(
        spread_small_scan(
            read_parquet(spark, f"{sf_dir}/documents.parquet"), spark
        ),
        hash_mode="xxh64",
    )


def _simhash_oracle(max_hamming: int) -> str:
    return f"""
WITH tok AS (SELECT doc_id, unnest({_D_TOKS}) AS tok FROM documents),
th AS (SELECT doc_id, {T.d_hash60('tok')} AS h FROM tok),
votes AS (SELECT doc_id, j.j,
                 CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END AS v
          FROM th CROSS JOIN (SELECT unnest(range(0, {dedup.SIMHASH_BITS})) AS j) j),
bits AS (SELECT doc_id, j, sum(v) AS s FROM votes GROUP BY doc_id, j),
fp AS (SELECT doc_id,
              CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
                AS simhash
       FROM bits GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register("dedup_simhash", _simhash_oracle(8))
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(48-bit) near-dup pairs at Hamming ≤ 8."""
    return dedup.simhash_pairs(read_parquet(spark, f"{sf_dir}/documents.parquet"))


@register("dedup_simhash_banded", _simhash_oracle(3))
def dedup_simhash_banded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup at Hamming ≤ 3 via LSH banding (pigeonhole over
    4 bands) — the scale path.  The oracle is the all-pairs form: banding
    is provably lossless at nb = h+1, so values must match exactly."""
    return dedup.simhash_banded_pairs(
        read_parquet(spark, f"{sf_dir}/documents.parquet"), max_hamming=3
    )


from .. import oracle as O  # noqa: E402

_COS_TOPN = 20

_COS_ORACLE = f"""
WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  {O.cosine_sim('a.embedding', 'b.embedding')} AS cos
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
r AS (SELECT id_a, id_b, cos,
             CAST(row_number() OVER (ORDER BY cos DESC, id_a, id_b) AS BIGINT) AS rnk
      FROM p)
SELECT rnk, id_a, id_b, round(cos, 6) AS cos_r FROM r WHERE rnk <= {_COS_TOPN}
"""


@register("dedup_embedding_cosine", _COS_ORACLE)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-N most-similar pairs (exact all-pairs
    baseline — the fixture has no pairs above a dedup threshold, so the
    registered form ranks; the thresholded operator
    ``dedup.embedding_cosine_pairs`` is the production entry and the ANN
    index is its scale path)."""
    from pyspark.sql import Window

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    from ..functions import vector as V

    # staged per-row norms (r10): one fold per pair in the N² stage,
    # bitwise-identical (functions.vector.cosine_sim_staged)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                   F.expr(V.norm("embedding")).alias("na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                   F.expr(V.norm("embedding")).alias("nb"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.expr(V.cosine_sim_staged("va", "vb", "na", "nb")).alias("cos"),
        )
    )
    # two-phase global top-N: parallel partial top-N (TakeOrderedAndProject)
    # feeds a tiny rank window — a bare global window would evaluate every
    # all-pairs cosine in ONE task (see embedding_ann_pairs)
    top = pairs.orderBy(
        F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(_COS_TOPN)
    w = Window.orderBy(F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("rnk", "id_a", "id_b", F.round("cos", 6).alias("cos_r"))
    )


@register("dedup_embedding_ann", _COS_ORACLE)
def dedup_embedding_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the distributed ANN self-join (routes
    planned by size: at corpus scale the cogroup scorer, no driver
    collect of the query side) — the scale path of
    dedup_embedding_cosine.  Run here at full probes + exact re-rank, so
    the global top-N pairs are provably those of the all-pairs form and
    the oracle is the SAME SQL."""
    return dedup.embedding_ann_pairs(
        read_parquet(spark, f"{sf_dir}/embeddings.parquet"), top_n=_COS_TOPN
    )


_DOC_SIM_TOPN = 3

_DOC_SIM_ORACLE = f"""
WITH de AS (SELECT d.doc_id, d.lang, e.embedding
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.lang AS lang_b,
             {O.cosine_sim('a.embedding', 'b.embedding')} AS cos
      FROM de a JOIN de b ON a.doc_id <> b.doc_id
      WHERE a.doc_id < 10),
r AS (SELECT doc_a, doc_b, lang_b, cos,
             CAST(row_number() OVER (PARTITION BY doc_a ORDER BY cos DESC, doc_b) AS BIGINT) AS rnk
      FROM p)
SELECT doc_a, rnk, doc_b, lang_b, round(cos, 6) AS cos_r FROM r WHERE rnk <= {_DOC_SIM_TOPN}
"""


@register("doc_similarity", _DOC_SIM_ORACLE)
def doc_similarity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level similarity search: join documents to their embeddings
    (doc_id ≡ vec_id in the fixtures) and rank the top-N most similar
    documents for the first 10 docs — the doc-centric face of the ANN
    engine (exact baseline; knn_rabitq is the scale path)."""
    from pyspark.sql import Window

    from ..functions import vector as V

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    de = docs.join(emb, docs.doc_id == emb.vec_id).select("doc_id", "lang", "embedding")
    a = de.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("doc_a"), F.col("embedding").alias("va")
    )
    b = de.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), F.col("embedding").alias("vb")
    )
    pairs = (
        b.crossJoin(F.broadcast(a))
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "lang_b", F.expr(V.cosine_sim("va", "vb")).alias("cos"))
    )
    w = Window.partitionBy("doc_a").orderBy(F.col("cos").desc(), F.col("doc_b").asc())
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _DOC_SIM_TOPN)
        .select("doc_a", "rnk", "doc_b", "lang_b", F.round("cos", 6).alias("cos_r"))
    )


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
sigs AS (SELECT doc_id, {_d_sig_cols()} FROM sh GROUP BY doc_id),
bands AS ({_BANDS_UNION}),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
         WHERE x.doc_id < y.doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2),
j AS (SELECT c.doc_a, c.doc_b,
             CAST(coalesce(i.inter, 0) AS DOUBLE)
               / (sa.nsh + sb.nsh - coalesce(i.inter, 0)) AS jac
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b),
pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.4),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
reach(id, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS component_id
FROM reach GROUP BY id
"""


@register("dedup_components", _COMPONENTS_ORACLE)
def dedup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    near-dup pair graph (hash-min label propagation vs the oracle's
    recursive-CTE transitive closure).  component_id doubles as the
    keep-lowest survivor id."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs)
    return dedup.connected_components(pairs, docs.select("doc_id"))


INC_SPLIT = 400  # corpus: doc_id < 400; incoming shard: doc_id >= 400


def _side_shingle_ctes(side: str, pred: str) -> str:
    """Per-side shingle CTEs.  The df cap always comes from the CORPUS
    side's frequency table (``cfreq`` — df is a corpus-level property;
    the c-side CTEs must therefore appear before the n-side ones)."""
    return f"""
{side}nrm AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents WHERE {pred}),
{side}shl AS (SELECT doc_id, {T.d_shingles3('toks')} AS sh FROM {side}nrm),
{side}sh0 AS (SELECT doc_id, unnest(sh) AS shingle FROM {side}shl),
{side}freq AS (SELECT shingle, count(*) AS df FROM {side}sh0 GROUP BY shingle),
{side}sh AS (SELECT s.doc_id, s.shingle FROM {side}sh0 s
       WHERE NOT EXISTS (SELECT 1 FROM cfreq f
                         WHERE f.shingle = s.shingle AND f.df > {dedup.DF_CAP})),
{side}sizes AS (SELECT doc_id, count(*) AS nsh FROM {side}sh GROUP BY doc_id),
{side}sigs AS (SELECT doc_id, {_d_sig_cols()} FROM {side}sh GROUP BY doc_id),
{side}bands AS ({_BANDS_UNION.replace('FROM sigs', f'FROM {side}sigs')})"""


_INC_ORACLE = f"""
WITH {_side_shingle_ctes('c', f'doc_id < {INC_SPLIT}')},
{_side_shingle_ctes('n', f'doc_id >= {INC_SPLIT}')},
nh AS (SELECT doc_id AS new_id, md5({_D_NORM}) AS h FROM documents WHERE doc_id >= {INC_SPLIT}),
ch AS (SELECT doc_id AS corpus_id, md5({_D_NORM}) AS h FROM documents WHERE doc_id < {INC_SPLIT}),
ex AS (SELECT new_id, min(corpus_id) AS exact_dup_of FROM nh JOIN ch USING (h) GROUP BY new_id),
cand AS (SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
         FROM nbands nb JOIN cbands cb ON nb.band = cb.band AND nb.key = cb.key),
inter AS (SELECT cd.new_id, cd.corpus_id, count(*) AS inter
          FROM cand cd JOIN nsh a ON a.doc_id = cd.new_id
                       JOIN csh b ON b.doc_id = cd.corpus_id AND b.shingle = a.shingle
          GROUP BY 1, 2),
near AS (SELECT cd.new_id, min(cd.corpus_id) AS near_dup_of
         FROM cand cd
         LEFT JOIN inter i ON i.new_id = cd.new_id AND i.corpus_id = cd.corpus_id
         JOIN nsizes sa ON sa.doc_id = cd.new_id
         JOIN csizes sb ON sb.doc_id = cd.corpus_id
         WHERE CAST(coalesce(i.inter, 0) AS DOUBLE)
               / (sa.nsh + sb.nsh - coalesce(i.inter, 0)) >= 0.4
         GROUP BY cd.new_id)
SELECT d.doc_id,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_dup_of IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       coalesce(e.exact_dup_of, nr.near_dup_of) AS dup_of
FROM (SELECT doc_id FROM documents WHERE doc_id >= {INC_SPLIT}) d
LEFT JOIN ex e ON e.new_id = d.doc_id
LEFT JOIN near nr ON nr.new_id = d.doc_id
"""


@register("dedup_incremental", _INC_ORACLE)
def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the incoming shard (doc_id >= 400)
    checked against the existing corpus (doc_id < 400) — exact hash tier
    + MinHash band tier with Jaccard verification, new×corpus joins
    only (never corpus×corpus)."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    new = docs.where(F.col("doc_id") >= INC_SPLIT)
    corpus = docs.where(F.col("doc_id") < INC_SPLIT)
    return dedup.incremental_dedup(new, corpus)


_APPLY_ORACLE = _COMPONENTS_ORACLE.replace(
    "SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS component_id\nFROM reach GROUP BY id",
    """SELECT id AS doc_id FROM reach GROUP BY id HAVING id = min(root)""",
)


@register("dedup_apply", _APPLY_ORACLE)
def dedup_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's APPLY step: survivors after transitive
    near-dup collapse — a doc survives iff it is its component's
    canonical (smallest) id.  Composition of minhash_lsh_pairs →
    connected_components → filter; the anti-join form (drop everything
    whose component root is someone else) is the same plan shape at
    100 TB."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    comp = dedup.connected_components(
        dedup.minhash_lsh_pairs(docs), docs.select("doc_id")
    )
    return comp.where(F.col("doc_id") == F.col("component_id")).select("doc_id")


_CLUSTER_SIZES_ORACLE = _COMPONENTS_ORACLE.replace(
    "SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS component_id\n"
    "FROM reach GROUP BY id",
    ", comp AS (SELECT id, CAST(min(root) AS BIGINT) AS component_id\n"
    "           FROM reach GROUP BY id),\n"
    "szs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS size\n"
    "        FROM comp GROUP BY component_id)\n"
    "SELECT size, CAST(count(*) AS BIGINT) AS n_clusters\n"
    "FROM szs GROUP BY size",
)


@register("dedup_cluster_sizes", _CLUSTER_SIZES_ORACLE)
def dedup_cluster_sizes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the curation report that
    tells you HOW duplicated the corpus is (how many singletons, how
    many 2-clusters, any mega-cluster from boilerplate).  Two partial-agg
    shuffles on top of the components labels; a mega-cluster shows up as
    a single large ``size`` row, the signal to inspect DF_CAP /
    boilerplate before training."""
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    comp = dedup.connected_components(
        dedup.minhash_lsh_pairs(docs), docs.select("doc_id")
    )
    return (
        comp.groupBy("component_id")
        .agg(F.count("*").cast("long").alias("size"))
        .groupBy("size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
    )


@register("semdedup", semdedup_ops.d_semdedup(nq=10, tau=0.925))
def semdedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    assign embeddings to (label-mean) centroids, compare pairs only
    within a cluster (Sigma|cluster|^2 not N^2), mark every member of a
    cos >= tau near-dup group except its min-id representative.  The
    cluster equi-join is the 100 TB design point; production passes
    kmeans_centroids output instead of the deterministic stand-in."""
    from ..operators import ivf as ivf_ops

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10)
    cents = ivf_ops.label_centroids(base).select("cluster_id", "centroid")
    vectors = base.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    from ..tables import embedding_dim

    return semdedup_ops.semdedup(
        vectors, cents, tau=0.925, dim=embedding_dim(spark, sf_dir)
    )


def _fuzzy_oracle() -> str:
    from ..operators import fuzzy

    return fuzzy.d_fuzzy_join(
        "SELECT c_custkey AS l_id, c_name AS k FROM customer",
        "SELECT s_suppkey AS r_id, s_name AS k FROM supplier",
        "k", "k", tau=0.3, left_id="l_id", right_id="r_id", df_cap=50,
    )


@register("fuzzy_name_match", _fuzzy_oracle())
def fuzzy_name_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution between two tables (customer names x supplier
    names): char-trigram BLOCKING (stop-trigrams with right-side df >
    50 excluded from candidate generation only) -> exact Jaccard >= 0.3
    on full trigram sets -> integer (inter, union, sim_fix) output.
    At 100 TB the blocking equi-join replaces the |L|x|R| cross
    product; the tau cut is a cross-multiplied integer comparison."""
    from ..operators import fuzzy

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("l_id"), F.col("c_name").alias("k")
    )
    supp = read_parquet(spark, f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("r_id"), F.col("s_name").alias("k")
    )
    return fuzzy.fuzzy_join(cust, supp, "k", "k", tau=0.3, df_cap=50)


ER_SLICE = 400  # gate-demo slice (sf0.001 has 200 parts; 400 at sf>=0.01)


def _er_oracle() -> str:
    from ..operators import fuzzy

    pairs = fuzzy.d_fuzzy_join(
        f"SELECT p_partkey AS a_id, p_name AS k FROM part WHERE p_partkey < {ER_SLICE}",
        f"SELECT p_partkey AS b_id, p_name AS k FROM part WHERE p_partkey < {ER_SLICE}",
        "k", "k", tau=0.6, left_id="a_id", right_id="b_id", df_cap=50,
    )
    return f"""
WITH RECURSIVE pr0 AS ({pairs}),
pr AS (SELECT a_id, b_id FROM pr0 WHERE a_id < b_id),
er_e AS (SELECT a_id AS src, b_id AS dst FROM pr
         UNION ALL SELECT b_id, a_id FROM pr),
er_nodes AS (SELECT p_partkey AS id FROM part WHERE p_partkey < {ER_SLICE}),
reach(id, root) AS (
    SELECT id, id FROM er_nodes
    UNION
    SELECT e.dst, r.root FROM reach r JOIN er_e e ON e.src = r.id
),
comp AS (SELECT id AS part_id, CAST(min(root) AS BIGINT) AS entity_id
         FROM reach GROUP BY id),
sz AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS entity_size
       FROM comp GROUP BY entity_id)
SELECT c.part_id, c.entity_id, s.entity_size,
       CAST(c.part_id = c.entity_id AS BOOLEAN) AS is_canonical
FROM comp c JOIN sz s ON c.entity_id = s.entity_id
"""


@register("entity_resolution", _er_oracle())
def entity_resolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (beyond-reference §2.8): the
    pipeline every master-data/catalog system runs — trigram-blocked
    fuzzy self-join on product names (exact Jaccard >= 0.6, stop-trigram
    df cap 50) -> connected components over the match graph (hash-min
    label propagation vs the oracle's recursive transitive closure) ->
    canonical entity = min member id, plus membership size.  The demo
    runs on a deterministic key slice (p_partkey < 400, the
    dedup_incremental convention); at 100 TB the blocking equi-join and
    the Pregel-style component rounds are the scale path — no step is
    quadratic in the corpus."""
    from ..operators import fuzzy

    parts = (
        read_parquet(spark, f"{sf_dir}/part.parquet")
        .where(F.col("p_partkey") < ER_SLICE)
    )
    left = parts.select(F.col("p_partkey").alias("a_id"), F.col("p_name").alias("k"))
    right = parts.select(F.col("p_partkey").alias("b_id"), F.col("p_name").alias("k"))
    pairs = (
        fuzzy.fuzzy_join(left, right, "k", "k", tau=0.6,
                         left_id="a_id", right_id="b_id", df_cap=50)
        .where(F.col("a_id") < F.col("b_id"))
    )
    comp = dedup.connected_components(
        pairs, parts.select(F.col("p_partkey").alias("part_id")),
        id_="part_id", a="a_id", b="b_id",
    ).withColumnRenamed("component_id", "entity_id")
    sz = comp.groupBy("entity_id").agg(F.count("*").cast("long").alias("entity_size"))
    return comp.join(sz, on="entity_id").select(
        "part_id",
        "entity_id",
        "entity_size",
        (F.col("part_id") == F.col("entity_id")).alias("is_canonical"),
    )


# --- sketch-calibration + novelty profiling (beyond-reference) -------------

_MH_SIG_EQ = " + ".join(
    f"CASE WHEN x.sig_{i} = y.sig_{i} THEN 1 ELSE 0 END"
    for i in range(dedup.N_MINHASH)
)

_MINHASH_EST_ORACLE = f"""
WITH {_SHINGLE_CTES},
sigs AS (SELECT doc_id, {_d_sig_cols()} FROM sh GROUP BY doc_id),
bands AS ({_BANDS_UNION}),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
         WHERE x.doc_id < y.doc_id),
m AS (SELECT c.doc_a, c.doc_b, CAST({_MH_SIG_EQ} AS BIGINT) AS sig_matches
      FROM cand c JOIN sigs x ON x.doc_id = c.doc_a
                  JOIN sigs y ON y.doc_id = c.doc_b),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2)
SELECT m.doc_a, m.doc_b, m.sig_matches,
       CAST(coalesce(i.i, 0) AS BIGINT) AS inter,
       CAST(sa.nsh AS BIGINT) AS nsh_a,
       CAST(sb.nsh AS BIGINT) AS nsh_b
FROM m LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
JOIN sizes sa ON sa.doc_id = m.doc_a
JOIN sizes sb ON sb.doc_id = m.doc_b
"""


@register("minhash_jaccard_estimate", _MINHASH_EST_ORACLE)
def minhash_jaccard_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration audit: for every LSH candidate pair, the
    MinHash Jaccard estimator (matching signature components) NEXT TO the
    exact intersection it approximates — grades the sketch on the actual
    corpus before it gates a 100 TB dedup pass.  Integer-only output."""
    from ..tables import spread_small_scan

    return dedup.minhash_estimate_pairs(
        spread_small_scan(
            read_parquet(spark, f"{sf_dir}/documents.parquet"), spark
        )
    )


_NOVELTY_ORACLE = f"""
WITH {_SHINGLE_CTES},
fo AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT sh.doc_id, count(*) AS n_shingles,
       count(*) FILTER (WHERE fo.first_doc = sh.doc_id) AS n_novel
FROM sh JOIN fo USING (shingle)
GROUP BY sh.doc_id
"""


@register("doc_ngram_novelty", _NOVELTY_ORACLE)
def doc_ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: how many of a doc's distinct
    (df-capped) 3-shingles first appear in THIS doc, in corpus doc_id
    order — the recycled-content covariate of the memorization
    literature; near-zero novelty marks boilerplate assemblies no single
    pair-dedup threshold catches."""
    from ..tables import spread_small_scan

    return dedup.shingle_novelty(
        spread_small_scan(
            read_parquet(spark, f"{sf_dir}/documents.parquet"), spark
        )
    )

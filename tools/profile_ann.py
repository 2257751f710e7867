"""Phase breakdown of embedding_ann_pairs (the ANN self-join, VERDICT
r10 item 4): one fresh JVM, bench-identical input at sf0.1, each phase
timed by its own action.  Run on an idle host.

Usage: python tools/profile_ann.py [nprobe] [sf_dir]
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import pyspark.sql.functions as F

    from extended_rabitq_spark.functions import vector as V
    from extended_rabitq_spark.operators import dedup
    from extended_rabitq_spark.operators.ivf import sampled_kmeans_centroids
    from extended_rabitq_spark.operators.rabitq import (
        build_index, centroids_with_rotation, rabitq_search,
    )
    from extended_rabitq_spark.session import get_spark
    from extended_rabitq_spark.staging import stage_eager

    nprobe = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_clusters, top_n = 16, 20
    k_per_query = top_n + 1

    spark = get_spark("profile-ann", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    def t(label, fn):
        t0 = time.perf_counter()
        out = fn()
        print(f"{label:44s} {time.perf_counter() - t0:7.3f}s", flush=True)
        return out

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t("warmup: emb.count x2", lambda: (emb.count(), emb.count()))
    t("warmup: arrow pass", lambda: emb.select("vec_id", "embedding")
      .mapInPandas(lambda it: it, "vec_id long, embedding array<double>")
      .write.format("noop").mode("overwrite").save())

    t_all = time.perf_counter()
    norm = emb.select(
        F.col("vec_id").alias("id"), F.expr(V.l2_normalize("embedding")).alias("vec")
    )
    cents = t("sampled_kmeans (count+sample collect)",
              lambda: sampled_kmeans_centroids(norm, k=n_clusters, vec="vec"))
    index_df, meta = t("build_index construct",
                       lambda: build_index(norm, cents, total_bits=4))
    index_df = t("index stage_eager (localCheckpoint)",
                 lambda: index_df.transform(stage_eager))
    cents_full = t("centroids_with_rotation",
                   lambda: centroids_with_rotation(spark, cents, meta))
    res = t("rabitq_search construct", lambda: rabitq_search(
        norm.select(F.col("id").alias("qid"), F.col("vec").alias("qvec")),
        index_df, cents_full, meta, nprobe=nprobe, k=k_per_query + 1,
        rerank_base=norm,
    ))
    t("search noop (scored+rerank+topk)", lambda: res.write.format("noop")
      .mode("overwrite").save())
    pairs = (
        res.where(F.col("qid") != F.col("id"))
        .select(F.least("qid", "id").alias("id_a"),
                F.greatest("qid", "id").alias("id_b"))
        .distinct()
    )
    a = norm.select(F.col("id").alias("id_a"), F.col("vec").alias("va"),
                    F.expr(V.norm("vec")).alias("na"))
    b = norm.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"),
                    F.expr(V.norm("vec")).alias("nb"))
    scored = pairs.repartition("id_a").join(a, on="id_a").join(b, on="id_b").select(
        "id_a", "id_b",
        F.expr(V.cosine_sim_staged("va", "vb", "na", "nb")).alias("cos"),
    )
    t("pairs+exact cosine noop", lambda: scored.write.format("noop")
      .mode("overwrite").save())
    from pyspark.sql import Window
    top = scored.orderBy(F.col("cos").desc(), "id_a", "id_b").limit(top_n)
    w = Window.orderBy(F.col("cos").desc(), "id_a", "id_b")
    final = top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "rnk", "id_a", "id_b", F.round("cos", 6).alias("cos_r"))
    t("final top-N noop", lambda: final.write.format("noop")
      .mode("overwrite").save())
    print(f"{'TOTAL (sum of phases, one-shot)':44s} "
          f"{time.perf_counter() - t_all:7.3f}s")
    # warm repeat of the WHOLE query, bench-style
    from extended_rabitq_spark.operators.dedup import embedding_ann_pairs
    for rep in range(3):
        t0 = time.perf_counter()
        embedding_ann_pairs(emb, nprobe=nprobe).write.format("noop") \
            .mode("overwrite").save()
        print(f"full embedding_ann_pairs rep{rep}          "
              f"{time.perf_counter() - t0:7.3f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

"""Phase-wall audit of dedup_embedding_ann_np4 (VERDICT r9 item 6).

`embedding_ann_pairs(emb, nprobe=4)` was the most expensive bench extra
(9.5s driver / 13.0s judge at sf0.1).  This tool splits its pipeline at
real barriers and times each phase in isolation so the dominant stage
is a measurement, not a guess:

  1. normalize + k-means train   (sampled_kmeans_centroids, driver-side
                                  numpy over a bounded sample)
  2. index build                 (rotate + quantize the full corpus;
                                  the operator's own localCheckpoint)
  3. ANN self-join search        (every vector queries, cogroup Arrow
                                  scorer, exact re-rank shortlist)
  4. pair distinct + exact cos   (pair normalization + cosine + top-N)

Phases 3 and 4 share a plan in production; the split here inserts one
extra localCheckpoint after the search to attribute the wall.  The
summed phase walls therefore slightly OVERSTATE the fused run — the
fused wall is printed alongside as the honest total.

Usage: python tools/ann_dedup_phases.py [--sf-dir /root/testdata/sf0.1]
Writes results/ann_dedup_phases.csv (phase, wall_sec columns).
"""

from __future__ import annotations

import argparse
import csv
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--nprobe", type=int, default=4)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    a = ap.parse_args()

    from pyspark.sql import functions as F

    from extended_rabitq_spark.functions import vector as V
    from extended_rabitq_spark.operators.dedup import embedding_ann_pairs
    from extended_rabitq_spark.operators.ivf import sampled_kmeans_centroids
    from extended_rabitq_spark.operators.rabitq import (
        build_index,
        centroids_with_rotation,
        rabitq_search,
    )
    from extended_rabitq_spark.session import get_spark

    spark = get_spark("ann-dedup-phases", cpus=a.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{a.sf_dir}/embeddings.parquet")
    emb.count()  # scan warm (both the fused run and the phases read it)

    def med(fn):
        fn()  # warm: plan codegen + Python worker spin-up
        walls = []
        for _ in range(max(a.reps, 1)):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return sorted(walls)[len(walls) // 2]

    # ---- fused end-to-end (the bench extra, for reference) ----
    fused = med(lambda: embedding_ann_pairs(emb, nprobe=a.nprobe)
                .write.format("noop").mode("overwrite").save())

    # ---- phase walls (same parameters as embedding_ann_pairs) ----
    rows = [("fused_end_to_end", fused)]
    norm = emb.select(
        F.col("vec_id").alias("id"), F.expr(V.l2_normalize("embedding")).alias("vec")
    )

    t0 = time.perf_counter()
    cents = sampled_kmeans_centroids(norm, k=16, vec="vec")
    rows.append(("p1_normalize_kmeans_train", time.perf_counter() - t0))

    t0 = time.perf_counter()
    index_df, meta = build_index(norm, cents, total_bits=4)
    index_df = index_df.localCheckpoint(eager=True)
    rows.append(("p2_index_build_ckpt", time.perf_counter() - t0))

    cents_full = centroids_with_rotation(spark, cents, meta)
    t0 = time.perf_counter()
    res = rabitq_search(
        norm.select(F.col("id").alias("qid"), F.col("vec").alias("qvec")),
        index_df, cents_full, meta,
        # k mirrors the operator's theorem-tight default: top_n(20)+1
        # per-query candidates, +1 for the self-match (milestone 65)
        nprobe=a.nprobe, k=22, rerank_base=norm,
    ).localCheckpoint(eager=True)
    rows.append(("p3_self_join_search_rerank", time.perf_counter() - t0))

    t0 = time.perf_counter()
    pairs = (
        res.where(F.col("qid") != F.col("id"))
        .select(F.least("qid", "id").alias("id_a"),
                F.greatest("qid", "id").alias("id_b"))
        .distinct()
    )
    av = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    bv = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    scored = pairs.repartition("id_a").join(av, on="id_a").join(bv, on="id_b").select(
        "id_a", "id_b", F.expr(V.cosine_sim("va", "vb")).alias("cos")
    )
    scored.orderBy(F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc()) \
        .limit(20).write.format("noop").mode("overwrite").save()
    rows.append(("p4_pairs_cosine_topn", time.perf_counter() - t0))

    out = f"{REPO}/results/ann_dedup_phases.csv"
    with open(out, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["phase", "wall_sec"])
        for name, wall in rows:
            w.writerow([name, round(wall, 3)])
            print(f"{name:30s} {wall:7.3f}s")
    print(f"wrote {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

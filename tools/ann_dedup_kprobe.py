"""Candidate-volume experiment for the ANN self-join dedup (VERDICT r9
item 6, follow-up to the r9 phase-wall audit of the same self-join;
``tools/opt_measure.py time dedup_embedding_ann`` now reports that split
per plan operator).

The phase audit shows the self-join search (phase 3) dominates the wall,
and its cost is candidate volume = (nprobe / n_clusters) · N² estimate
evaluations.  The default production point (n_clusters=16, nprobe=4)
probes 25% of the corpus PER QUERY — at sf0.1 (N≈60k) that is ~0.9e9
estimates.  IVF practice scales K with √N; this tool measures the
(K, nprobe) grid: wall time, candidate fraction, and whether the global
top-N pair output still matches the LOSSLESS full-probe result (the
committed oracle semantics).

Usage: python tools/ann_dedup_kprobe.py [--grid 16:4,64:8,64:4,128:8]
Writes results/ann_dedup_kprobe.csv
(n_clusters, nprobe, probe_frac, wall_sec, pairs_match_lossless).
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
    ap.add_argument("--grid", default="16:4,16:16,64:4,64:8,64:16,128:8")
    ap.add_argument("--top-n", type=int, default=20)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    a = ap.parse_args()

    from extended_rabitq_spark.operators.dedup import embedding_ann_pairs
    from extended_rabitq_spark.session import get_spark

    spark = get_spark("ann-dedup-kprobe", cpus=a.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{a.sf_dir}/embeddings.parquet")
    emb.count()

    def run(k_, np_):
        return embedding_ann_pairs(emb, top_n=a.top_n, nprobe=np_,
                                   n_clusters=k_)

    # lossless anchor: full probes at the default K (output equals the
    # all-pairs oracle — pinned by the registered query's driver rows)
    anchor = {(r["rnk"], r["id_a"], r["id_b"]) for r in run(16, 16).collect()}

    def med_wall(fn):
        fn()
        walls = []
        for _ in range(max(a.reps, 1)):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return sorted(walls)[len(walls) // 2]

    rows = []
    for pair in a.grid.split(","):
        k_, np_ = (int(x) for x in pair.split(":"))
        got = {(r["rnk"], r["id_a"], r["id_b"]) for r in run(k_, np_).collect()}
        wall = med_wall(lambda: run(k_, np_)
                        .write.format("noop").mode("overwrite").save())
        rows.append((k_, np_, round(np_ / k_, 4), round(wall, 3),
                     got == anchor))
        print(f"K={k_:4d} nprobe={np_:3d} probe_frac={np_/k_:.3f} "
              f"wall={wall:6.3f}s match_lossless={got == anchor}")

    out = f"{REPO}/results/ann_dedup_kprobe.csv"
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["n_clusters", "nprobe", "probe_frac", "wall_sec",
                    "pairs_match_lossless"])
        w.writerows(rows)
    print(f"wrote {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

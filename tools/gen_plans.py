"""Regenerate PLANS.md: flagship physical-plan snapshots.

Run from the repo root: ``python tools/gen_plans.py``.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.001"

HDR = (
    "# PLANS — flagship physical plans (auto-generated)\n\n"
    "Snapshots of `explain('formatted')` operator trees at the smoke "
    "fixture, committed so the plan contract is reviewable without running "
    "Spark.  Regenerate with `python tools/gen_plans.py`.\n\n"
    "What to look for: `BroadcastHashJoin`/`BroadcastNestedLoopJoin` "
    "(small sides broadcast, big sides never shuffle), `WindowGroupLimit` "
    "(map-side partial top-k), `PushedFilters`/`PartitionFilters` on scans, "
    "and the absence of Python eval nodes on query hot paths.  ANN plans "
    "carry the Arrow batch stages described in the README: the scorer "
    "(`MapInPandas` or `FlatMapCoGroupsInPandas`) and, in a reranked "
    "plan, the exact rerank's `MapInArrow` on the raw-vector scan.\n\n"
)


def main() -> None:
    from pyspark.sql import functions as F

    from extended_rabitq_spark.operators import ivf, rabitq
    from extended_rabitq_spark.plans import inspect
    from extended_rabitq_spark.registry import QUERIES
    from extended_rabitq_spark.session import get_spark

    spark = get_spark("gen-plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    sections: list[str] = []

    def add(title: str, df, note: str) -> None:
        sections.append(f"## {title}\n\n{note}\n\n```\n{inspect.plan_tree(df)}\n```\n")

    add(
        "knn_exact (J1/W3)",
        QUERIES["knn_exact"](spark, SF),
        "Broadcast NLJ (no index-side shuffle) + window top-k compiling to "
        "partial `WindowGroupLimit` (map-side top-k before the exchange); "
        "query/base split pushed into the parquet scan.",
    )
    add(
        "knn_ivf (J3)",
        QUERIES["knn_ivf"](spark, SF),
        "Probe selection over the broadcast centroid table, probe join as a "
        "broadcast hash join — the fact side never shuffles before the "
        "aggregation; partial top-k again.",
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
    idx, meta = rabitq.build_index(base, cents, total_bits=4)
    tmp = tempfile.mkdtemp()
    rabitq.save_index(idx, cents, meta, f"{tmp}/idx")
    codes, cf, meta2 = rabitq.load_index(spark, f"{tmp}/idx")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    add(
        "rabitq_search on a saved index (E1-E3, broadcast scorer)",
        rabitq.rabitq_search(qs, codes, cf, meta2, nprobe=3, k=10),
        "The planner's small-batch route: probes are picked driver-side, "
        "the codes scan is left-semi-joined with the broadcast probed-"
        "cluster list (partition pruning) and scored per cluster by one "
        "`MapInPandas` BLAS pass; two-phase rank cut + final top-k are "
        "partial-`WindowGroupLimit` windows.",
    )
    add(
        "dedup_minhash_lsh",
        QUERIES["dedup_minhash_lsh"](spark, SF),
        "One full tokenize pass for the stop-shingle list (materialized), one "
        "for signatures; band equi-join for candidates (localCheckpoint'ed "
        "pair list); verification re-shingles only candidate docs and "
        "anti-joins the corpus-wide stop list.",
    )
    add(
        "dedup_jaccard_prefix (exact prefix-filtered set-similarity join)",
        QUERIES["dedup_jaccard_prefix"](spark, SF),
        "One shingle materialization; document-frequency ranking window "
        "(hashpartitioning by doc_id) selects the rarest-first prefix; "
        "candidates come from a shingle equi-join of PREFIXES only, a "
        "two-sided length filter, and two aggregate positional bounds "
        "computed in the pair-dedup groupBy.  The exact verify (r9) "
        "joins the explicitly-spread pair list against the checkpointed "
        "per-doc shingle SETS (broadcast under the doc-count route) and "
        "counts intersections JVM-side via array_intersect — no "
        "per-pair row expansion.  No O(N²) node anywhere; output "
        "provably equals the all-shingle join.",
    )
    add(
        "rabitq_search refine_mode='threshold' (adaptive distk prune)",
        rabitq.rabitq_search(
            qs, codes, cf, meta2, nprobe=3, k=10, refine_mode="threshold",
        ),
        "The two phase-2 windows (k-th best estimate, then the est_lb ≤ "
        "dist_k filter) share ONE hashpartitioning(qid) exchange — the "
        "adaptive cut costs no extra shuffle over the rank cut.",
    )
    add(
        "rabitq_threshold_stats (adaptive-prune activity attestation)",
        rabitq.rabitq_threshold_stats(qs, codes, cf, meta2, nprobe=3, k=10),
        "Same _threshold_marked windows as the search path (shared "
        "hashpartitioning(qid) exchange), then ONE partial-aggregated "
        "count per query — n_pool/n_kept come from a single pass over "
        "the scored pool, no persist, no second scoring job.",
    )
    add(
        "pipeline_clean_corpus (composed)",
        QUERIES["pipeline_clean_corpus"](spark, SF),
        "Exact dedup (hash groupBy) -> quality filter (map-only) -> "
        "checkpointed corpus barrier -> BLAS-selected near-dup candidates "
        "re-scored declaratively -> broadcast anti-join.",
    )

    # a corpus-sized batch gets the cogroup scorer; at fixture scale the
    # route is forced the same way, by a broadcast threshold it exceeds
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    add(
        "rabitq_search full-probes fast path (cogroup scorer)",
        rabitq.rabitq_search(qs, codes, cf, meta2, nprobe=64, k=10),
        "nprobe >= K: the fused query prep emits every (query, cluster) "
        "residual with no probe sort (`probe_rank` absent) and the "
        "codes need no distinct-keys semi-join; the cogroup exchange "
        "pairs each cluster's codes with its probing queries for the "
        "Arrow BLAS kernel.  This is the ANN self-join dedup route at "
        "corpus scale (shown with autoBroadcastJoinThreshold=-1).",
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    add(
        "tpch_q21 (correlated EXISTS / NOT EXISTS)",
        QUERIES["tpch_q21"](spark, SF),
        "The double-correlated subquery pair decorrelates to hash semi- "
        "and anti-joins keyed on the orderkey with the other-supplier "
        "inequality as a residual join condition — no nested-loop over "
        "lineitem² survives planning (guarded in tests/test_sources_plans).",
    )

    add(
        "dedup_lines (CCNet segment dedup)",
        QUERIES["dedup_lines"](spark, SF),
        "Tokenize+posexplode into 10-token segments, ONE shuffle on the "
        "60-bit segment hash for the distinct-doc counts (partial "
        "HashAggregate pair), equi-join back, and one reassembly "
        "aggregation keyed on doc_id — bounded at <= 4 Exchanges by test.",
    )
    add(
        "doc_chunks (overlapping chunking)",
        QUERIES["doc_chunks"](spark, SF),
        "Zero-Exchange map-only plan: a generated chunk-index sequence "
        "posexploded against the text column; the documents scan reads "
        "only (doc_id, text) (ReadSchema pruned, asserted in tests).",
    )
    add(
        "training_shard_export (deterministic shard shuffle)",
        QUERIES["training_shard_export"](spark, SF),
        "Salted md5 hash -> shard id; the rank window partitions BY SHARD "
        "(hashpartitioning, n_shards parallel sorts) — never a global "
        "rangepartitioning sort.",
    )

    add(
        "maxsim_label_topk (late-interaction multi-vector)",
        QUERIES["maxsim_label_topk"](spark, SF),
        "Broadcast NLJ of the bounded query side into the entity-vector "
        "scan, then TWO partial-agg HashAggregate pairs (max per "
        "(gid,qid,ent), DECIMAL sum per (gid,ent)) — only aggregated "
        "rows cross either exchange; top-k window over the tiny scored "
        "table.",
    )

    sweep, sweep_scored = rabitq.rabitq_search_sweep(
        qs, codes, cf, meta2, nprobes=[3, 6], k=10
    )
    add(
        "rabitq_search_sweep grid point (amortized sweep, np=3 of max 6)",
        sweep[3],
        "The shared candidate pool (scored ONCE at max(grid), rows "
        "tagged `probe_rank`) appears as an `InMemoryTableScan` under a "
        "`probe_rank <= 3` filter; only phase-2 (rank cut + top-k "
        "windows) is per-grid-point work.  Every grid point is "
        "row-identical to its standalone search (tests).",
    )
    sweep_scored.unpersist()

    # bloom-gated incremental dedup: show the IN-list reaching the
    # corpus hash scan (the band subtree executes inside a checkpoint)
    from extended_rabitq_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") < 40)
    art = f"{tmp}/art"
    dd.save_dedup_artifacts(corpus, art)
    new = corpus.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text"
    )
    add(
        "incremental_dedup with bloom-gated artifacts",
        dd.incremental_dedup(new, corpus, artifacts=art),
        "The batch side is pre-gated by the broadcast Bloom bitmaps "
        "(Arrow probe stages, executed eagerly via localCheckpoint); the "
        "surviving keys appear as an `In(h, [...])` pushed filter on the "
        "key-sorted content_hashes scan — row-group zone maps skip "
        "untouched corpus data.  The band-tier subtree (with its own "
        "`In(key, ...)` pushdown) runs inside the candidate checkpoint.",
    )

    add(
        "knn_ivfpq (residual PQ inside IVF probes)",
        QUERIES["knn_ivfpq"](spark, SF),
        "Probe semi-join bounds the candidate set to nprobe clusters "
        "(the saved-index form prunes partitions); encode/decode are "
        "broadcast codebook joins + one (id, sub_id) rank window; ADC "
        "estimate and the exact rerank are codegen expressions over "
        "rank-bounded shortlists — zero Python nodes.",
    )
    add(
        "dsir_select (Gumbel-top-N importance resampling)",
        QUERIES["dsir_select"](spark, SF),
        "One tokenize/explode pass; the target and raw distributions are "
        "B-row partial aggregates broadcast back; document weights are "
        "BIGINT sums; the selection is a `TakeOrderedAndProject` — each "
        "partition contributes only its local top-N, no global sort.",
    )
    add(
        "semdedup (cluster-scoped embedding dedup)",
        QUERIES["semdedup"](spark, SF),
        "Argmin assignment against broadcast centroids, the pair join "
        "equi-keyed on cluster_id only (Σ|cluster|² work, never N²), and "
        "an AQE-chosen join for the dup-id flags (no forced broadcast — "
        "dup counts are corpus-scale on heavy-dup corpora).",
    )
    add(
        "knn_ivf_adaptive (per-query probe escalation, exact IVF)",
        QUERIES["knn_ivf_adaptive"](spark, SF),
        "Union of the cheap-pass survivors (anti-join on the broadcast "
        "escalated-qid list) with the re-searched tail: both passes are "
        "the J3 broadcast-probe shape over localCheckpoint'ed probe "
        "tables, radii are one K-row partial aggregate, and the verdict "
        "is two hashpartitioning(qid) aggregations — no new shuffle "
        "shape beyond fixed-nprobe IVF; the index side still never "
        "shuffles.",
    )

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    out.write_text(HDR + "\n".join(sections))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

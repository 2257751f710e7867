"""Command-line entry points — the drop-in analog of the reference's
executables (``create_index <dataset> <K> <B>``, ``src/create_index.cpp:10-54``;
``test_search <dataset> <B>``, ``src/test_search.cpp:23-153``) plus the
lifecycle verbs the immutable reference lacks.

    python -m extended_rabitq_spark ingest       SRC OUT.parquet
    python -m extended_rabitq_spark create-index BASE.parquet IDX --k 16 --b 4
    python -m extended_rabitq_spark search       IDX QUERIES.parquet --base BASE.parquet
    python -m extended_rabitq_spark gt           BASE.parquet QUERIES.parquet --out gt.ivecs
    python -m extended_rabitq_spark stats        IDX
    python -m extended_rabitq_spark compact      IDX
    python -m extended_rabitq_spark delete       IDX --ids 3,17,42
    python -m extended_rabitq_spark rebalance    IDX BASE.parquet

Vector tables are parquet with ``(id, vec)`` or ``(vec_id, embedding)``
columns (auto-detected); ``ingest`` converts fvecs/ivecs/fbin shards.
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _vectors(spark: SparkSession, path: str) -> DataFrame:
    """Load a vector table, normalizing column names to (id, vec)."""
    df = spark.read.parquet(path)
    cols = set(df.columns)
    if {"id", "vec"} <= cols:
        return df.select("id", "vec")
    if {"vec_id", "embedding"} <= cols:
        return df.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
    raise SystemExit(
        f"{path}: expected (id, vec) or (vec_id, embedding) columns, got {sorted(cols)}"
    )


def cmd_ingest(spark: SparkSession, a: argparse.Namespace) -> int:
    from .sources import vecs_io

    if any(ch in a.src for ch in "*?["):
        df = vecs_io.ingest_dir(spark, a.src, a.out)
    else:
        df = vecs_io.ingest_file(spark, a.src, a.out)
    print(f"ingested {df.count()} vectors -> {a.out}")
    return 0


def cmd_create_index(spark: SparkSession, a: argparse.Namespace) -> int:
    from .harness import save_indexing_time_csv
    from .operators import ivf, rabitq

    base = _vectors(spark, a.base)
    t0 = time.perf_counter()
    # train centroids in the space the index quantizes in
    train_base, mips_m = base, None
    if a.metric == "cosine":
        from .functions import vector as V

        base = base.withColumn("vec", F.expr(V.l2_normalize("vec")))
        train_base = base
    elif a.metric == "ip":
        train_base, mips_m = rabitq.mips_prepare(base, vec="vec")
    cents = ivf.sampled_kmeans_centroids(
        train_base, k=a.k, vec="vec",
        sample_size=a.train_sample, iters=a.train_iters,
    )
    index_df, meta = rabitq.build_index(
        base, cents, total_bits=a.b, metric=a.metric, mips_m=mips_m
    )
    rabitq.save_index(index_df, cents, meta, a.index)
    if a.graph:
        ivf.save_centroid_graph(
            spark, ivf.build_centroid_graph(cents), a.index
        )
    dt = time.perf_counter() - t0
    n = spark.read.parquet(f"{a.index}/codes").count()
    print(f"index built: {n} vectors, K={a.k}, B={a.b}, "
          f"graph={a.graph}, {dt:.1f}s -> {a.index}")
    if a.results_dir:
        save_indexing_time_csv(a.results_dir, a.dataset, dt / 60.0)  # minutes
    return 0


def cmd_search(spark: SparkSession, a: argparse.Namespace) -> int:
    import json as _json
    import os as _os

    from .harness import nprobe_sweep, save_results_csv, tune_nprobe
    from .operators import rabitq

    # Fail at the dispatch boundary, not deep inside plan analysis: the
    # sweep harness below is RaBitQ-specific; other index kinds serve
    # through operators.rabitq.search_index (which dispatches on kind).
    _kind = rabitq._read_meta(a.index).get("kind")
    if _kind is not None and _kind != "rabitq":
        raise SystemExit(
            f"search: index at {a.index} has kind={_kind!r}; the sweep "
            "harness is RaBitQ-only — query it via "
            "extended_rabitq_spark.operators.rabitq.search_index (one-"
            "call serving, kind-dispatched) instead"
        )

    codes, cents_full, meta = rabitq.load_index(spark, a.index)
    queries = _vectors(spark, a.queries).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec")
    )
    base = _vectors(spark, a.base)
    centroids = cents_full.select("cluster_id", "centroid")
    grid = [int(x) for x in a.grid.split(",")] if a.grid else None
    metric = meta.get("metric", "l2")
    probes_factory = None
    if getattr(a, "amortized", False) and a.use_graph:
        raise SystemExit(
            "search: --amortized is incompatible with --use-graph "
            "(graph probes carry no probe ranks)"
        )
    if a.use_graph:
        from .operators import ivf

        graph = ivf.load_centroid_graph(spark, a.index)
        # enter the saved graph's geometry: ip graphs are (d+1)-dim
        # MIPS-augmented, cosine's normalize is a harmless no-op for
        # ranking (per-query positive scale), l2 is the identity
        gq = rabitq.prepare_queries_for_metric(queries, meta)
        probes_factory = lambda np_: ivf.graph_probes(gq, graph, np_)  # noqa: E731
    gt_df = None
    if getattr(a, "gt_parquet", None):
        # the reference's compute_gt.py/test_search split: GT is computed
        # once per (base, queries, metric) and reused across sweeps — at
        # 1M×1536 the brute-force GT dominates the sweep wall.  A sidecar
        # inside the parquet dir (underscore-prefixed → ignored by scans)
        # pins the provenance so a stale cache fails loudly.
        import hashlib as _hl

        sidecar = _os.path.join(a.gt_parquet, "_gt_meta.json")
        prov = {
            "base": _os.path.abspath(a.base),
            "queries": _os.path.abspath(a.queries),
            "metric": metric,
        }
        prov_key = _hl.sha256(
            _json.dumps(prov, sort_keys=True).encode()
        ).hexdigest()[:16]
        if _os.path.exists(sidecar):
            with open(sidecar) as _f:
                cached = _json.load(_f)
            if cached.get("prov_key") != prov_key or cached.get("k", 0) < a.k:
                raise SystemExit(
                    f"search: GT cache {a.gt_parquet} was built for "
                    f"{cached} (need {prov} at k≥{a.k}); delete it or "
                    "point --gt-parquet elsewhere"
                )
            gt_df = spark.read.parquet(a.gt_parquet)
            print(f"search: using GT cache {a.gt_parquet} (k={cached['k']})")
        else:
            # no sidecar: only build-and-overwrite into an empty/absent
            # target.  A non-empty directory without _gt_meta.json is NOT
            # ours (GT from another tool, or unrelated data) — refuse
            # rather than destroy it, mirroring the provenance-mismatch
            # error above (ADVICE r8).
            if _os.path.isdir(a.gt_parquet) and _os.listdir(a.gt_parquet):
                raise SystemExit(
                    f"search: {a.gt_parquet} exists and is non-empty but has "
                    "no _gt_meta.json sidecar — refusing to overwrite data "
                    "this tool did not write; delete it or point "
                    "--gt-parquet elsewhere"
                )
            from .operators import knn as _knn

            gt_df = _knn.exact_knn_combined(queries, base, k=a.k, metric=metric)
            gt_df.write.mode("overwrite").parquet(a.gt_parquet)
            with open(sidecar, "w") as _f:
                _json.dump({**prov, "prov_key": prov_key, "k": a.k}, _f)
            gt_df = spark.read.parquet(a.gt_parquet)
            print(f"search: computed + cached GT -> {a.gt_parquet}")
    if a.target_recall is not None:
        np_sel, rows = tune_nprobe(
            queries, base, centroids, target_recall=a.target_recall,
            k=a.k, grid=grid, mode="rabitq",
            index_df=codes, centroids_full=cents_full, meta=meta,
            metric=metric, probes_factory=probes_factory, rounds=a.rounds,
            amortized=a.amortized, gt=gt_df,
            # the tuned nprobe must be measured under the SAME phase-2
            # config it will serve with — a γ/rerank mismatch would pick
            # an nprobe whose recorded recall the serving path can't hit
            refine=a.refine if a.refine > 0 else None,
            rerank=a.rerank, refine_mode=a.refine_mode,
        )
        got = next(r for r in rows if r.nprobe == np_sel)
        print(f"tuned nprobe={np_sel} recall={got.recall:.5f} "
              f"(target {a.target_recall})")
        if a.save_tuned:
            # persist the serving default next to the index (re-tune on
            # rebuild, like centroid retraining).  When the sweep plateaued
            # or exhausted its grid below the target, tune_nprobe returns
            # the largest executed nprobe — record met=False rather than
            # silently persisting a default that misses its own recorded
            # target (ADVICE r4).
            import json

            met = got.recall >= a.target_recall
            m = rabitq._read_meta(a.index)
            m["tuned_nprobe"] = int(np_sel)
            m["tuned_recall"] = round(float(got.recall), 6)
            m["tuned_target"] = float(a.target_recall)
            m["tuned_target_met"] = bool(met)
            # the phase-2 config the tuning ran under — serving must
            # reproduce it for tuned_recall to transfer
            m["tuned_refine"] = int(a.refine) if a.refine > 0 else None
            m["tuned_rerank"] = bool(a.rerank)
            m["tuned_refine_mode"] = a.refine_mode
            with open(f"{a.index}/meta.json", "w") as fh:
                json.dump(m, fh)
            if met:
                print(f"saved tuned_nprobe={np_sel} -> {a.index}/meta.json")
            else:
                print(
                    f"WARNING: sweep stopped at recall={got.recall:.5f} < "
                    f"target {a.target_recall}; saved tuned_nprobe={np_sel} "
                    f"with tuned_target_met=false -> {a.index}/meta.json"
                )
    else:
        rows = nprobe_sweep(
            queries, base, centroids, k=a.k, grid=grid, mode="rabitq",
            index_df=codes, centroids_full=cents_full, meta=meta,
            rounds=a.rounds, probes_factory=probes_factory, metric=metric,
            amortized=a.amortized, rerank=a.rerank, warmup=a.warmup,
            refine=a.refine if a.refine > 0 else None, gt=gt_df,
            refine_mode=a.refine_mode, wall_stat=a.wall_stat,
        )
    print("nprobe,QPS,recall,ratio")
    for r in rows:
        print(f"{r.nprobe},{r.qps:.2f},{r.recall:.5f},{r.ratio:.5f}")
    if a.results_dir:
        tag = f"exhaf{int(meta.get('total_bits', 0))}"
        save_results_csv(rows, a.results_dir, a.dataset, tag)
    return 0


def cmd_query(spark: SparkSession, a: argparse.Namespace) -> int:
    """Single-shot top-k serving over a saved index — the verb a user
    runs AFTER create-index (+ optional --target-recall tuning): no
    grid, no GT, just results.  Routes through
    operators.rabitq.search_index, so it inherits the index's own
    serving defaults (persisted tuned_nprobe with the loud stale-tune
    warning, auto-detected W2 graph probes, ivfpq kind dispatch)."""
    from .operators.rabitq import search_index

    queries = _vectors(spark, a.queries).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec")
    )
    kw = {}
    if a.rerank_base:
        kw["rerank_base"] = _vectors(spark, a.rerank_base)
    if getattr(a, "adaptive_stats", False) and not a.adaptive:
        raise SystemExit("query: --adaptive-stats requires --adaptive LO:HI")
    if a.adaptive:
        # per-query probe escalation (operators/adaptive.py): probe LO
        # cells everywhere, re-search only queries the triangle cell
        # bound cannot certify at HI.  RaBitQ indexes only (the
        # certificate reads cell radii off the codes' x2 column).
        from .operators.adaptive import rabitq_search_adaptive
        from .operators.rabitq import load_index

        if a.use_graph == "yes":
            raise SystemExit(
                "query: --adaptive selects probes exactly (W1) — "
                "incompatible with --use-graph yes"
            )
        lo, sep, hi = a.adaptive.partition(":")
        if not sep or not lo.isdigit() or not hi.isdigit():
            raise SystemExit(
                f"query: --adaptive expects LO:HI (two integers, e.g. "
                f"3:12), got {a.adaptive!r}"
            )
        if not 0 < int(lo) < int(hi):
            raise SystemExit(
                f"query: --adaptive needs 0 < LO < HI, got {a.adaptive!r}"
            )
        codes, cents, meta = load_index(spark, a.index)
        if meta.get("kind") == "ivfpq":
            raise SystemExit(
                "query: --adaptive needs a RaBitQ index (cell radii come "
                "from the codes' x2 column) — this index is ivfpq"
            )
        if a.adaptive_stats:
            res, stats = rabitq_search_adaptive(
                queries, codes, cents, meta, k=a.k,
                nprobe_lo=int(lo), nprobe_hi=int(hi),
                return_stats=True, **kw,
            )
            # The deployment diagnostic (run on a query SAMPLE before
            # enabling --adaptive in production): if esc_frac ≈ 1 the
            # certificate is vacuous on this corpus and adaptive costs
            # a full lo pass for nothing — stay on fixed nprobe.  If
            # esc_frac is small, expected probe work per query is
            # lo + esc_frac·hi vs the fixed hi.
            agg = stats.agg(
                F.count("*").alias("nq"),
                F.avg(F.col("escalate").cast("double")).alias("esc_frac"),
                F.avg("nprobe_eff").alias("mean_nprobe_eff"),
            ).first()
            eff = (int(lo) + agg["esc_frac"] * int(hi)) / int(hi)
            print(f"adaptive-stats: nq={agg['nq']} "
                  f"escalated_frac={agg['esc_frac']:.4f} "
                  f"mean_nprobe_eff={agg['mean_nprobe_eff']:.2f} "
                  f"probe_work_vs_fixed_hi={eff:.2f}x "
                  f"(<1 means adaptive wins on probe volume)")
        else:
            res = rabitq_search_adaptive(
                queries, codes, cents, meta, k=a.k,
                nprobe_lo=int(lo), nprobe_hi=int(hi), **kw,
            )
    else:
        res = search_index(
            spark, a.index, queries, k=a.k,
            nprobe=a.nprobe if a.nprobe > 0 else None,
            use_graph=None if a.use_graph == "auto" else (a.use_graph == "yes"),
            **kw,
        )
    if a.out:
        res.write.mode("overwrite").parquet(a.out)
        n = spark.read.parquet(a.out).count()
        print(f"wrote {n} result rows -> {a.out}")
    else:
        for r in res.orderBy("qid", "rank").limit(a.show).collect():
            print(f"{r['qid']},{r['rank']},{r['id']},{r['est_dist']:.6f}")
    return 0


def cmd_stats(spark: SparkSession, a: argparse.Namespace) -> int:
    from .operators import rabitq

    codes = spark.read.parquet(f"{a.index}/codes")
    for r in rabitq.index_stats(codes).collect():
        for k in r.asDict():
            print(f"{k}: {r[k]}")
    return 0


def cmd_compact(spark: SparkSession, a: argparse.Namespace) -> int:
    from .operators import rabitq

    rabitq.compact_index(spark, a.index)
    print(f"compacted {a.index}")
    return 0


def cmd_delete(spark: SparkSession, a: argparse.Namespace) -> int:
    from .operators import rabitq

    ids = [int(x) for x in a.ids.split(",") if x.strip()]
    ids_df = spark.createDataFrame([(i,) for i in ids], "id long")
    n = rabitq.delete_from_index(spark, a.index, ids_df)
    print(f"deleted {n} of {len(ids)} requested ids from {a.index}")
    return 0


def cmd_rebalance(spark: SparkSession, a: argparse.Namespace) -> int:
    from .operators import rabitq

    base = _vectors(spark, a.base)
    out = rabitq.rebalance_index(spark, a.index, base, max_ratio=a.max_ratio)
    print(
        f"split clusters {out['split']} -> new ids {out['new_ids']}; "
        f"{out['rows_moved']} rows rewritten"
    )
    return 0


def cmd_clean_corpus(spark: SparkSession, a: argparse.Namespace) -> int:
    from .queries.pipeline import pipeline_clean_corpus

    out = pipeline_clean_corpus(spark, a.data_dir, scale=a.scale)
    out.write.mode("overwrite").parquet(a.out)
    n = spark.read.parquet(a.out).count()
    print(f"clean corpus: {n} surviving docs -> {a.out} (scale={a.scale})")
    return 0


def cmd_ingest_docs(spark: SparkSession, a: argparse.Namespace) -> int:
    """JSONL corpus (plain/.gz/...) → canonical documents parquet."""
    from .sources.corpus_io import read_jsonl_docs

    docs = read_jsonl_docs(
        spark, a.src, text_field=a.text_field, id_field=a.id_field,
        lang_field=a.lang_field, source_field=a.source_field,
        default_source=a.default_source,
    )
    docs.write.mode("overwrite").parquet(a.out)
    n = spark.read.parquet(a.out).count()
    print(f"ingested {n} documents -> {a.out}")
    return 0


def cmd_ingest_warc(spark: SparkSession, a: argparse.Namespace) -> int:
    """WARC shard(s) → canonical documents parquet (+ url/date/ctype)."""
    from .sources.warc_io import read_warc_docs

    docs = read_warc_docs(spark, a.src, min_chars=a.min_chars)
    docs.write.mode("overwrite").parquet(a.out)
    n = spark.read.parquet(a.out).count()
    print(f"ingested {n} documents -> {a.out}")
    return 0


def cmd_tokenize(spark: SparkSession, a: argparse.Namespace) -> int:
    """Train (or load) a BPE merge table, tokenize a documents table."""
    from .operators import bpe

    import os as _os

    docs = spark.read.parquet(a.docs)
    if a.merges and _os.path.exists(a.merges) and not a.train:
        merges = bpe.load_merges(a.merges)
    else:
        merges = bpe.train_bpe(docs, n_merges=a.n_merges, top_words=a.top_words)
        if a.merges:
            bpe.save_merges(merges, a.merges)
    toks = bpe.bpe_tokenize(docs, merges)
    toks.write.mode("overwrite").parquet(a.out)
    n, tot = spark.read.parquet(a.out).agg(
        F.count("*"), F.sum("n_tokens")
    ).first()
    print(f"tokenized {n} docs, {tot} tokens ({len(merges)} merges) -> {a.out}")
    return 0


def cmd_quality(spark: SparkSession, a: argparse.Namespace) -> int:
    """Learned quality scoring over a documents table: self-train the LR
    classifier with the Gopher rule gate as weak label (or filter on a
    score threshold) and write (doc_id, quality_score, quality_pred)."""
    from .operators import quality_model

    docs = spark.read.parquet(f"{a.data_dir}/documents.parquet")
    if a.model:  # pre-trained: score only, no weak-label bootstrap
        model = quality_model.load_model(a.model)
        scored = quality_model.score_quality(model, docs, threshold=a.threshold)
    else:
        scored, model = quality_model.self_train_and_score(docs, threshold=a.threshold)
    if a.save_model:
        quality_model.save_model(model, a.save_model)
        print(f"saved model -> {a.save_model}")
    scored.write.mode("overwrite").parquet(a.out)
    kept = spark.read.parquet(a.out).where("quality_pred = 1").count()
    total = docs.count()
    info = quality_model.explain_model(model)
    print(f"quality: {kept}/{total} docs pass -> {a.out}")
    print("weights: " + ", ".join(
        f"{k}={v:+.3f}" for k, v in sorted(info["weights"].items())
    ))
    return 0


def cmd_gt(spark: SparkSession, a: argparse.Namespace) -> int:
    """Ground-truth computation (the reference's ``compute_gt.py:12-19``
    brute-force step, distributed): exact top-k of every query against
    the base, written as the standard ``.ivecs`` GT artifact (row q =
    the k base ids, rank order) and/or parquet."""
    from .operators import knn
    from .sources import vecs_io

    if not a.out and not a.out_parquet:
        raise SystemExit("gt: give --out and/or --out-parquet (nothing to write)")
    base = _vectors(spark, a.base)
    queries = _vectors(spark, a.queries).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec")
    )
    # a base smaller than k yields exactly n_base ranks per query — clamp
    # so the .ivecs matrix build below can't hit a missing rank
    kk = min(a.k, base.count())
    if kk < a.k:
        print(f"gt: base has only {kk} vectors; clamping k {a.k} -> {kk}")
    # persist: both sinks materialize the same brute-force scan — without
    # it the parquet write and the ivecs collect each recompute the full
    # exact kNN (review r5)
    gt = knn.exact_knn_combined(queries, base, k=kk, metric=a.metric).persist()
    try:
        if a.out_parquet:
            gt.write.mode("overwrite").parquet(a.out_parquet)
            print(f"wrote {a.out_parquet}")
        if a.out:
            import numpy as np

            rows = gt.select("qid", "rank", "id").collect()
            if not rows:
                print(f"gt: query set is empty — skipping {a.out}")
                return 0
            by_q: dict = {}
            for r in rows:
                by_q.setdefault(int(r.qid), {})[int(r.rank)] = int(r.id)
            qids = sorted(by_q)
            mat = np.array(
                [[by_q[q][rk] for rk in range(1, kk + 1)] for q in qids],
                dtype=np.int32,
            )
            vecs_io.write_ivecs(a.out, mat)
            print(f"wrote {a.out} ({mat.shape[0]} x {mat.shape[1]})")
    finally:
        gt.unpersist()
    return 0


def cmd_profile(spark: SparkSession, a: argparse.Namespace) -> int:
    """Dataset-card report: one command composing the curation queries
    into a printed profile of a testdata-shaped directory (documents +
    embeddings) — per-(lang, source) stats, exact length percentiles,
    source drift, duplicate-cluster size distribution, and the one-row
    referential/vector-health audit."""
    from .registry import QUERIES

    sections = [
        ("corpus_stats (per lang x source)", "corpus_stats"),
        ("corpus_length_quantiles (exact percentiles)", "corpus_length_quantiles"),
        ("source_divergence (per-source drift)", "source_divergence"),
        ("dedup_cluster_sizes (near-dup cluster histogram)", "dedup_cluster_sizes"),
        ("corpus_integrity_audit (doc<->embedding health)", "corpus_integrity_audit"),
    ]
    for title, name in sections:
        print(f"== {title}")
        rows = QUERIES[name](spark, a.data_dir).collect()
        if not rows:
            print("  (no rows)")
            continue
        cols = rows[0].__fields__
        print("  " + ",".join(cols))
        for r in rows[: a.max_rows]:
            print("  " + ",".join(str(v) for v in r))
        if len(rows) > a.max_rows:
            print(f"  ... ({len(rows)} rows total)")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="extended_rabitq_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ingest", help="fvecs/ivecs/fbin -> parquet (S1/S2)")
    s.add_argument("src")
    s.add_argument("out")
    s.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("create-index", help="train + quantize + save (create_index)")
    s.add_argument("base")
    s.add_argument("index")
    s.add_argument("--k", type=int, default=16, help="IVF cluster count")
    s.add_argument("--b", type=int, default=4, help="total bits per dim")
    s.add_argument(
        "--metric", choices=["l2", "cosine", "ip"], default="l2",
        help="distance metric; cosine normalizes vectors, ip applies "
             "the MIPS augmented-coordinate reduction (both recorded "
             "in index meta and honored by search)",
    )
    s.add_argument(
        "--train-sample", type=int, default=25_000,
        help="k-means training sample size (faiss-style subsample; "
             "size it ~40×K so every cluster sees enough points)",
    )
    s.add_argument("--train-iters", type=int, default=8,
                   help="Lloyd iterations for centroid training")
    s.add_argument(
        "--graph", action="store_true",
        help="also build+save the W2 centroid graph (HNSW-analog probe "
             "selection; the reference enables it at K >= 20000)",
    )
    s.add_argument("--results-dir", default=None)
    s.add_argument("--dataset", default="dataset")
    s.set_defaults(fn=cmd_create_index)

    s = sub.add_parser("search", help="nprobe sweep on a saved index (test_search)")
    s.add_argument("index")
    s.add_argument("queries")
    s.add_argument("--base", required=True, help="base vectors (GT + ratio)")
    s.add_argument("--k", type=int, default=100)
    s.add_argument("--grid", default=None, help="comma nprobe grid")
    s.add_argument("--rounds", type=int, default=1)
    s.add_argument(
        "--use-graph", action="store_true",
        help="probe via the saved <index>/graph artifact (W2 beam "
             "search) instead of exact top-nprobe centroid ranking",
    )
    s.add_argument(
        "--target-recall", type=float, default=None,
        help="auto-tune: stop the sweep at the smallest nprobe meeting "
             "this recall@k and report it",
    )
    s.add_argument(
        "--save-tuned", action="store_true",
        help="with --target-recall: record the chosen nprobe in the "
             "index meta.json as the serving default",
    )
    s.add_argument(
        "--amortized", action="store_true",
        help="score the candidate pool once at max(grid) and derive "
             "every sweep point from it (probe-rank tagging; results "
             "identical, per-point QPS becomes an amortization "
             "schedule) — incompatible with --use-graph",
    )
    s.add_argument(
        "--refine", type=int, default=4,
        help="E2 shortlist budget γ: keep the γ·k best error-bound "
             "lower bounds per query before phase-2 (0 disables the cut)",
    )
    s.add_argument(
        "--rerank", action="store_true",
        help="E4 exact re-rank: final ranks from true distances of the "
             "γ·k shortlist joined against --base (broadcast shortlist; "
             "the base table is never shuffled)",
    )
    s.add_argument(
        "--refine-mode", default="rank", choices=["rank", "threshold"],
        help="E2 cut form: 'rank' = fixed γ·k budget (--refine); "
             "'threshold' = the reference's adaptive distk analog — keep "
             "candidates whose lower bound ≤ the query's k-th best "
             "estimate (γ ignored)",
    )
    s.add_argument(
        "--warmup", action="store_true",
        help="one untimed extra round of every grid point before its "
             "timing (absorbs JVM first-touch, the --amortized pool "
             "scoring, and per-point plan JIT, so QPS reports "
             "steady-state per-point throughput)",
    )
    s.add_argument(
        "--wall-stat", default="median", choices=["median", "min"],
        help="per-point wall over --rounds: 'median' (default) or 'min' "
             "(consistent under strictly-additive interference — GC "
             "windows, co-tenant load — when the box drifts on "
             "timescales longer than one point's rounds)",
    )
    s.add_argument(
        "--gt-parquet", default=None,
        help="ground-truth cache path (compute_gt.py split): computed + "
             "written on first use, reused by later sweeps over the same "
             "(base, queries, metric); provenance-checked via a sidecar",
    )
    s.add_argument("--results-dir", default=None)
    s.add_argument("--dataset", default="dataset")
    s.set_defaults(fn=cmd_search)

    s = sub.add_parser(
        "ingest-docs", help="JSONL corpus (plain/.gz) -> documents parquet"
    )
    s.add_argument("src", help="file/dir/glob of *.jsonl[.gz]")
    s.add_argument("out")
    s.add_argument("--text-field", default="text")
    s.add_argument("--id-field", default=None)
    s.add_argument("--lang-field", default=None)
    s.add_argument("--source-field", default=None)
    s.add_argument("--default-source", default="jsonl")
    s.set_defaults(fn=cmd_ingest_docs)

    s = sub.add_parser(
        "ingest-warc", help="WARC crawl shards (plain/.gz) -> documents parquet"
    )
    s.add_argument("src", help="file/dir/glob of *.warc[.gz]")
    s.add_argument("out")
    s.add_argument("--min-chars", type=int, default=1)
    s.set_defaults(fn=cmd_ingest_warc)

    s = sub.add_parser(
        "tokenize", help="BPE-train (or reuse merges) + tokenize a documents table"
    )
    s.add_argument("docs", help="documents parquet path")
    s.add_argument("out")
    s.add_argument("--n-merges", type=int, default=500)
    s.add_argument("--top-words", type=int, default=50_000)
    s.add_argument("--merges", default=None, help="merge-table JSON to save/load")
    s.add_argument("--train", action="store_true",
                   help="with --merges: retrain and overwrite instead of loading")
    s.set_defaults(fn=cmd_tokenize)

    s = sub.add_parser(
        "quality", help="self-trained learned quality scores for a corpus"
    )
    s.add_argument("data_dir", help="dir with documents.parquet")
    s.add_argument("out", help="output parquet (doc_id, quality_score, quality_pred)")
    s.add_argument("--threshold", type=float, default=None,
                   help="override the 0.5 decision cut")
    s.add_argument("--save-model", default=None,
                   help="persist the fitted pipeline for reuse")
    s.add_argument("--model", default=None,
                   help="score with a previously saved model (skips the "
                        "weak-label self-training)")
    s.set_defaults(fn=cmd_quality)

    s = sub.add_parser(
        "gt", help="brute-force ground truth -> .ivecs/parquet (compute_gt.py)"
    )
    s.add_argument("base")
    s.add_argument("queries")
    s.add_argument("--k", type=int, default=100)
    s.add_argument("--metric", default="l2", choices=["l2", "ip", "cosine"])
    s.add_argument("--out", default=None, help=".ivecs GT file (qid-sorted rows)")
    s.add_argument("--out-parquet", default=None, help="GT as (qid, rank, id, dist)")
    s.set_defaults(fn=cmd_gt)

    s = sub.add_parser(
        "query",
        help="single-shot top-k serving over a saved index "
             "(tuned_nprobe default; no sweep/GT)",
    )
    s.add_argument("index")
    s.add_argument("queries", help="query vectors parquet")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--nprobe", type=int, default=0,
                   help="0 = the index's persisted tuned_nprobe "
                        "(or K/16 fallback)")
    s.add_argument("--rerank-base", default=None,
                   help="raw vectors parquet for E4 exact re-rank")
    s.add_argument("--use-graph", default="auto",
                   choices=["auto", "yes", "no"],
                   help="W2 graph probes: auto-detect the persisted "
                        "graph artifact, or force on/off")
    s.add_argument("--adaptive", default=None, metavar="LO:HI",
                   help="per-query probe escalation: probe LO cells "
                        "everywhere, re-search only uncertified queries "
                        "at HI (overrides --nprobe; RaBitQ indexes only)")
    s.add_argument("--adaptive-stats", action="store_true",
                   help="with --adaptive: also print the escalation "
                        "diagnostic (escalated fraction, mean effective "
                        "nprobe, probe-work ratio vs fixed HI) — run it "
                        "on a query sample BEFORE enabling adaptive in "
                        "production; escalated_frac near 1 means the "
                        "certificate is vacuous on this corpus")
    s.add_argument("--out", default=None,
                   help="write results parquet instead of printing")
    s.add_argument("--show", type=int, default=50,
                   help="rows to print when --out is not given")
    s.set_defaults(fn=cmd_query)

    s = sub.add_parser("stats", help="cluster-balance report")
    s.add_argument("index")
    s.set_defaults(fn=cmd_stats)

    s = sub.add_parser("compact", help="one file per cluster partition")
    s.add_argument("index")
    s.set_defaults(fn=cmd_compact)

    s = sub.add_parser("delete", help="delete vectors by id")
    s.add_argument("index")
    s.add_argument("--ids", required=True, help="comma-separated ids")
    s.set_defaults(fn=cmd_delete)

    s = sub.add_parser(
        "clean-corpus",
        help="dedup + quality + near-dup prune over documents/embeddings",
    )
    s.add_argument("data_dir", help="dir with documents.parquet + embeddings.parquet")
    s.add_argument("out", help="output parquet of surviving docs")
    s.add_argument("--scale", action="store_true",
                   help="ANN self-join near-dup stage (corpus-scale mode)")
    s.set_defaults(fn=cmd_clean_corpus)

    s = sub.add_parser("rebalance", help="split hot clusters")
    s.add_argument("index")
    s.add_argument("base")
    s.add_argument("--max-ratio", type=float, default=2.0)
    s.set_defaults(fn=cmd_rebalance)

    s = sub.add_parser(
        "profile",
        help="dataset-card report: stats, percentiles, drift, dup "
             "clusters, integrity audit",
    )
    s.add_argument("data_dir", help="dir with documents.parquet + embeddings.parquet")
    s.add_argument("--max-rows", type=int, default=12)
    s.set_defaults(fn=cmd_profile)
    return p


def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    a = build_parser().parse_args(argv)
    spark = get_spark("exrabitq-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return a.fn(spark, a)


if __name__ == "__main__":
    sys.exit(main())

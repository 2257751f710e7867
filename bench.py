"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline semantics (round 10+): each headline query runs one untimed
cold pass then WARM_REPS timed reps; ``queries[name]`` and the total are
the per-query WARM MEDIANS (reproducible within ~5% on a contended
host), and the cold one-shot walls ride in extras as ``{name}_cold_sec``
(r1-r9 headlines were the cold sums — not comparable).

Mirrors the reference's split between ``create_index`` (untimed setup)
and ``test_search`` (timed): the RaBitQ index is built+persisted once,
then search-only timings are measured, plus the registered pipeline
queries end-to-end.  Quality anchors (recall/ratio at B=4) ride along in
the JSON — BASELINE.md's transferable numbers are the quality points,
not absolute C++ QPS.
"""

from __future__ import annotations

import json
import os
import sys
import time

PIPELINE_QUERIES = [
    "knn_exact",
    "knn_exact_combined",
    "knn_ivf",
    "knn_filtered",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_banded",
    "text_quality",
    "text_fingerprint",
    "events_windowed",
]

# Timed into extras (not the headline total): the composed corpus-clean
# pipeline and the distributed ANN self-join dedup — the two largest
# end-to-end compositions.
EXTRA_QUERIES = [
    "pipeline_clean_corpus",
    # round-8: exact prefix-filtered Jaccard join — r9: aggregate
    # positional bounds (66,406 candidates = 5.9% of the all-shingle
    # join's 1.13M at sf0.1/t=0.6) + array_intersect set verify;
    # identical output, interleaved A/B −22% vs the r8 shape
    "dedup_jaccard_prefix",
    "dedup_embedding_ann",
    "dedup_components",
    "contamination_check",
    # round-4 cleanops: the two with non-trivial shuffle shapes (chunking
    # and the quality gate are map-only and too cheap to be informative)
    "dedup_lines",
    "tfidf_top_terms",
    # round-5: the learned quality filter — weak-label bootstrap + MLlib
    # L-BFGS fit + map-only JVM scoring, end-to-end
    "quality_classifier_score",
    # round-6: hybrid retrieval — one tokenize pass + BM25 + dense ranks
    # + integer RRF fusion, the RAG-serving composition
    "hybrid_search_rrf",
    # round-6: the two new LLM-pipeline selection/dedup shapes — DSIR
    # (tokenize + two B-row aggs + Gumbel top-N) and SemDeDup (argmin
    # assign + within-cluster quadratic pair join)
    "dsir_select",
    "semdedup",
    # round-6: IVF-PQ (residual encode + probe join + ADC + rerank)
    "knn_ivfpq",
    # round-6: trigram-blocked fuzzy join (entity resolution)
    "fuzzy_name_match",
    # round-6 session 3: mergeable HLL sketch (2 partial-agg shuffles,
    # register-table volume) and fixed-point PageRank (iterative keyed
    # joins, per-round checkpoints)
    "hll_distinct_shingles",
    "pagerank_event_types",
]


# Extras promoted onto the FINAL parseable JSON line (VERDICT r6 item 2b):
# the driver's tail capture keeps ~2 KB, and r6 lost the QPS/recall/build
# headline extras when the fat extras line overflowed at the head.  These
# ride inside the final line's "extras" dict; everything else (warm/cold
# tails, per-query extras) spills to earlier lines.
HEADLINE_EXTRAS = [
    "calib_pyloop_pre_sec",
    "calib_pyloop_post_sec",
    "index_build_sec",
    "rabitq_qps_np3",
    "rabitq_qps_np6",
    "rabitq_recall_np3",
    "rabitq_recall_np6",
    "rabitq_qps_np6_fullbatch_warm",
    "rabitq_fullbatch_nq",
    "sweep_np3_np6_sec",
    "tpch_suite_sec",
    "tpch_suite_n",
    "tpch_suite_overlap_sec",
]


def tpch_suite_child(overlap: int = 0) -> None:
    """Run ONLY the 22-query TPC-H suite and print one JSON line.

    Invoked by main() as ``python bench.py --tpch-suite-only`` in a fresh
    OS process: ``recycle_session()`` restarts the SparkSession but the
    py4j JVM survives within the Python process, so its heap/GC history
    accumulates — r6's driver artifact showed tpch_suite at 26.2s in the
    accumulated JVM vs 16.8s isolated (VERDICT r6 watch item 1).  A child
    process is the only way to a genuinely cold JVM.

    ``overlap`` > 0 (``--tpch-overlap-only``, round 10): submit the 22
    independent queries from a small driver thread pool instead of
    sequentially (guide §2.6 — actions are only sequential because the
    driver calls them sequentially; concurrent jobs back-fill the
    scheduler while each query's small stages leave most cores idle).
    Reported as the SEPARATE ``tpch_suite_overlap_sec`` extra, from its
    own cold JVM, so the sequential ``tpch_suite_sec`` stays
    round-over-round comparable.  Per-query results are unchanged —
    this overlaps scheduling, not computation."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    from extended_rabitq_spark.session import get_spark

    spark = get_spark("exrabitq-bench-tpch", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    # Cache the five dimension tables once for the suite (VERDICT r4
    # item 5): Catalyst's CacheManager substitutes the InMemoryRelation
    # into each query's identical scan — the "dims live in cluster
    # memory" warehouse posture.  Fact tables are NOT cached: at 100 TB
    # they never fit, and caching them fakes the scan cost measured.
    dims = [
        spark.read.parquet(f"{sf_dir}/{t}.parquet").cache()
        for t in ("region", "nation", "customer", "supplier", "part")
    ]
    for d in dims:
        d.count()
    names = sorted(n for n in qmap if n.startswith("tpch_q"))
    results: dict[str, bool] = {}

    def run_one(name: str) -> None:
        spark.sparkContext.setJobDescription(f"tpch:{name}")
        try:
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            results[name] = True
        except Exception as exc:  # pragma: no cover - bench resilience
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            results[name] = False

    t0 = time.perf_counter()
    if overlap > 0:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=overlap) as pool:
            list(pool.map(run_one, names))
    else:
        for name in names:
            run_one(name)
    wall = round(time.perf_counter() - t0, 3)
    ok = sum(1 for v in results.values() if v)
    key = "tpch_suite_overlap_sec" if overlap else "tpch_suite_sec"
    nkey = "tpch_suite_overlap_n" if overlap else "tpch_suite_n"
    print(json.dumps({key: wall, nkey: ok}))
    spark.stop()


def extras_suite_child() -> None:
    """Run the composed-pipeline extras catalogue and print one JSON line.

    Invoked by main() as ``python bench.py --extras-only`` in a fresh OS
    process, for the same reason tpch gets one (see tpch_suite_child):
    ``recycle_session()`` restarts the SparkSession but the py4j JVM
    survives, and its accumulated heap/GC/codegen history overstates the
    LATE entries catastrophically on a slow-GC host — the round-10 local
    run measured hll_distinct_shingles at 40.1s cold / 32.0s warm inside
    the accumulated JVM vs 1.6s cold / 1.4s warm isolated (20×), with
    the same inflation on pagerank (12s vs 2.9s), the np4 ANN dedup
    (36.2s vs 7.8s) and the scale pipeline (47.3s vs ~9s).  A child
    process is the only way to a genuinely cold JVM."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    WARM_REPS = int(os.environ.get("SPARK_GRAFT_WARM_REPS", "3"))
    WARM_SKIP_SEC = float(os.environ.get("SPARK_GRAFT_WARM_SKIP_SEC", "45"))

    from pyspark.sql import functions as F

    from extended_rabitq_spark.session import get_spark

    spark = get_spark("exrabitq-bench-extras", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    extras: dict[str, float] = {}

    def run_full(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _persistent_ids() -> set:
        try:
            return {
                int(i)
                for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
            }
        except Exception:
            return set()

    def release_stray_state(baseline_ids: set) -> None:
        # same contract as main()'s: drop persisted blocks a query left
        # behind so rep N never pays for rep N-1's leftovers
        import gc

        gc.collect()
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for i in jmap.keySet().toArray():
                if int(i) not in baseline_ids:
                    jmap.get(i).unpersist()
        except Exception:
            pass

    def ensure_alive() -> None:
        nonlocal spark
        try:
            spark.range(1).count()
        except Exception:
            print("bench extras: spark session died; recreating", file=sys.stderr)
            try:
                spark.stop()
            except Exception:
                pass
            spark = get_spark("exrabitq-bench-extras", cpus=cpus)
            spark.sparkContext.setLogLevel("ERROR")

    def median_warm(fn) -> float:
        baseline = _persistent_ids()
        reps = []
        for _ in range(max(WARM_REPS, 1)):
            t0 = time.perf_counter()
            fn()
            reps.append(time.perf_counter() - t0)
            release_stray_state(baseline)
        return sorted(reps)[len(reps) // 2]

    for name in EXTRA_QUERIES:
        if name in qmap:
            baseline = _persistent_ids()
            t0 = time.perf_counter()
            try:
                run_full(qmap[name](spark, sf_dir))
                extras[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
                release_stray_state(baseline)
            except Exception as exc:
                print(f"bench: extra {name} failed: {exc}", file=sys.stderr)
                extras[f"{name}_sec"] = -1.0
                ensure_alive()
                release_stray_state(baseline)
                continue
            if extras[f"{name}_sec"] > WARM_SKIP_SEC:
                print(f"bench: extra {name} warm skipped (cold "
                      f"{extras[f'{name}_sec']}s > {WARM_SKIP_SEC}s)",
                      file=sys.stderr)
                continue
            try:  # separate: a warm-rep failure must not clobber the cold
                extras[f"{name}_warm_sec"] = round(
                    median_warm(lambda n=name: run_full(qmap[n](spark, sf_dir))), 3
                )
            except Exception as exc:
                print(f"bench: extra {name} warm failed: {exc}", file=sys.stderr)
                extras[f"{name}_warm_sec"] = -1.0
                ensure_alive()

    # Production-hash HLL (xxh64) vs the md5-based oracle row timed in
    # EXTRA_QUERIES above — same plan, same input, different value hash
    # (VERDICT r6 item 3: md5 was the measured per-shingle hot loop).
    try:
        from extended_rabitq_spark.queries.text import (
            hll_distinct_shingles_production,
        )

        t0 = time.perf_counter()
        run_full(hll_distinct_shingles_production(spark, sf_dir))
        extras["hll_shingles_xxh64_sec"] = round(time.perf_counter() - t0, 3)
    except Exception as exc:
        print(f"bench: hll xxh64 failed: {exc}", file=sys.stderr)
        extras["hll_shingles_xxh64_sec"] = -1.0
        ensure_alive()

    # Production-hash MinHash-LSH (xxh64 shingle hash) vs the md5-based
    # oracle headline — verified-pair equivalence pinned in
    # tests/test_dedup_text.py.
    try:
        from extended_rabitq_spark.queries.dedup import (
            dedup_minhash_lsh_production,
        )

        t0 = time.perf_counter()
        run_full(dedup_minhash_lsh_production(spark, sf_dir))
        extras["dedup_minhash_xxh64_sec"] = round(time.perf_counter() - t0, 3)
    except Exception as exc:
        print(f"bench: minhash xxh64 failed: {exc}", file=sys.stderr)
        extras["dedup_minhash_xxh64_sec"] = -1.0
        ensure_alive()

    # BPE apply throughput (VERDICT r6 item 7): train once (untimed, the
    # bounded-collect protocol), then time the broadcast-ranks Arrow
    # tokenize pass — the map-only stage that scales with corpus size.
    try:
        from extended_rabitq_spark.operators import bpe as bpe_ops

        docs_bpe = spark.read.parquet(f"{sf_dir}/documents.parquet")
        merges = bpe_ops.train_bpe(docs_bpe, n_merges=200)
        t0 = time.perf_counter()
        tokenized = bpe_ops.bpe_tokenize(docs_bpe, merges).select("doc_id", "n_tokens")
        n_tok = tokenized.agg(F.sum("n_tokens")).collect()[0][0] or 0
        dt = time.perf_counter() - t0
        extras["bpe_tokenize_sec"] = round(dt, 3)
        extras["bpe_tokens_per_sec"] = round(n_tok / dt, 1)
    except Exception as exc:
        print(f"bench: bpe tokenize failed: {exc}", file=sys.stderr)
        extras["bpe_tokenize_sec"] = -1.0
        ensure_alive()

    # Production-mode ANN dedup (nprobe-limited, the 100 TB configuration)
    # alongside the lossless full-probe spec point timed above.
    try:
        from extended_rabitq_spark.operators.dedup import embedding_ann_pairs

        emb_t = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.perf_counter()
        run_full(embedding_ann_pairs(emb_t, nprobe=4))
        extras["dedup_embedding_ann_np4_sec"] = round(time.perf_counter() - t0, 3)
    except Exception as exc:
        print(f"bench: ann np4 failed: {exc}", file=sys.stderr)
        extras["dedup_embedding_ann_np4_sec"] = -1.0
        ensure_alive()

    # The production (scale=True) composition: stage-3 near-dup prune via
    # the distributed ANN self-join instead of the all-pairs oracle twin.
    from extended_rabitq_spark.queries.pipeline import pipeline_clean_corpus

    baseline = _persistent_ids()
    t0 = time.perf_counter()
    try:
        run_full(pipeline_clean_corpus(spark, sf_dir, scale=True))
        extras["pipeline_clean_corpus_scale_sec"] = round(time.perf_counter() - t0, 3)
        release_stray_state(baseline)
    except Exception as exc:
        print(f"bench: pipeline scale variant failed: {exc}", file=sys.stderr)
        extras["pipeline_clean_corpus_scale_sec"] = -1.0
        ensure_alive()
    if extras["pipeline_clean_corpus_scale_sec"] > 0:
        try:  # separate: a warm-rep failure must not clobber the cold
            extras["pipeline_clean_corpus_scale_warm_sec"] = round(
                median_warm(
                    lambda: run_full(pipeline_clean_corpus(spark, sf_dir, scale=True))
                ),
                3,
            )
        except Exception as exc:
            print(f"bench: pipeline scale warm failed: {exc}", file=sys.stderr)
            extras["pipeline_clean_corpus_scale_warm_sec"] = -1.0
            ensure_alive()

    print(json.dumps(extras))
    spark.stop()


def calib_pyloop_sec() -> float:
    """Single-thread host-speed probe: wall time of a 10M-integer add loop.

    VERDICT r10 item 2: round-10's same-code bench walls swung ±40% with
    the host's idle/power state (the probe degraded 0.93 → 1.6 s across
    one afternoon while recall columns stayed bit-identical), and that
    drift was only recorded in prose.  Reporting the probe BEFORE and
    AFTER the run as extras makes drift quantifiable from the artifact
    itself — PERF deltas can be read against the probe ratio.  Untimed
    with respect to every query measurement; pure Python, no Spark."""
    t0 = time.perf_counter()
    sum(range(10_000_000))
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # ---- extras: the full relational catalogue (all 22 TPC-H shapes),
    # in a FRESH OS PROCESS and FIRST (VERDICT r6 item 2a): a genuinely
    # cold JVM, before this process accumulates any heap history, so the
    # number is comparable round-over-round and to isolated runs.
    extras: dict[str, float] = {}
    extras["calib_pyloop_pre_sec"] = calib_pyloop_sec()
    import subprocess

    try:
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--tpch-suite-only"],
            capture_output=True,
            text=True,
            timeout=int(os.environ.get("SPARK_GRAFT_TPCH_TIMEOUT", "900")),
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        sys.stderr.write(child.stderr[-2000:])
        parsed = json.loads(child.stdout.strip().splitlines()[-1])
        extras["tpch_suite_sec"] = parsed["tpch_suite_sec"]
        extras["tpch_suite_n"] = parsed["tpch_suite_n"]
    except Exception as exc:
        print(f"bench: tpch suite child failed: {exc}", file=sys.stderr)
        extras["tpch_suite_sec"] = -1.0
        extras["tpch_suite_n"] = 0

    # Overlapped variant in its OWN cold JVM (guide §2.6): same 22
    # queries, driver thread pool — reported next to the sequential
    # number, which stays the round-over-round comparable statistic.
    try:
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--tpch-overlap-only"],
            capture_output=True,
            text=True,
            timeout=int(os.environ.get("SPARK_GRAFT_TPCH_TIMEOUT", "900")),
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        sys.stderr.write(child.stderr[-2000:])
        parsed = json.loads(child.stdout.strip().splitlines()[-1])
        extras["tpch_suite_overlap_sec"] = parsed["tpch_suite_overlap_sec"]
        extras["tpch_suite_overlap_n"] = parsed["tpch_suite_overlap_n"]
    except Exception as exc:
        print(f"bench: tpch overlap child failed: {exc}", file=sys.stderr)
        extras["tpch_suite_overlap_sec"] = -1.0
        extras["tpch_suite_overlap_n"] = 0

    # ---- extras: composed pipelines + flagship ANN dedup, ALSO in a
    # fresh OS process (round 10): the round-10 local run caught the
    # accumulated-JVM effect tpch was moved out for (r6) now poisoning
    # the extras tail — hll 32s warm inside the run vs 1.4s isolated
    # (20×), np4 36s vs 7.8s.  Isolated-child numbers match isolated
    # sessions by construction; see extras_suite_child.
    try:
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--extras-only"],
            capture_output=True,
            text=True,
            timeout=int(os.environ.get("SPARK_GRAFT_EXTRAS_TIMEOUT", "2400")),
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        sys.stderr.write(child.stderr[-2000:])
        extras.update(json.loads(child.stdout.strip().splitlines()[-1]))
    except Exception as exc:
        print(f"bench: extras child failed: {exc}", file=sys.stderr)
        extras["extras_child_failed"] = 1.0

    from pyspark.sql import functions as F

    from extended_rabitq_spark.session import get_spark

    spark = get_spark("exrabitq-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from extended_rabitq_spark import metrics
    from extended_rabitq_spark.operators import ivf, knn, rabitq
    from extended_rabitq_spark.tables import NQ

    timings: dict[str, float] = {}
    total = 0.0

    def run_full(df) -> None:
        # Materialize EVERY column via a noop sink — .count() lets Spark
        # prune computed columns (clean_text, dist projections) and
        # understates real work (NOTES.md pitfall: benchmark with
        # collect/noop, never count).
        df.write.format("noop").mode("overwrite").save()

    def ensure_alive() -> None:
        # A failed query can take the whole SparkContext with it (e.g.
        # executor OOM at large SF): every later section would then fail
        # instantly and record garbage.  Probe with a trivial job and
        # rebuild the session if it's dead — timings stay per-section
        # honest and one casualty can't poison the rest of the run.
        nonlocal spark
        try:
            spark.range(1).count()
        except Exception:
            print("bench: spark session died; recreating", file=sys.stderr)
            try:
                spark.stop()
            except Exception:
                pass
            spark = get_spark("exrabitq-bench", cpus=cpus)
            spark.sparkContext.setLogLevel("ERROR")

    def _persistent_ids() -> set:
        try:
            return {
                int(i)
                for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
            }
        except Exception:
            return set()

    def release_stray_state(baseline_ids: set) -> None:
        # Queries that persist()/localCheckpoint() internally (the
        # components loop, the clean-corpus pipeline) leave blocks behind
        # after their noop sink finishes; across sequential reps those
        # accumulate and later reps run in a degrading JVM — r4 measured
        # warm medians EXCEEDING cold one-shots on exactly those queries
        # (VERDICT r4 item 4).  Drop every persisted RDD that wasn't
        # there before the query ran; the bench's own long-lived caches
        # (index, centroids, query batches) are in the baseline set and
        # survive.  Runs OUTSIDE the timed section.
        import gc

        gc.collect()  # release py4j handles so unpersist below is complete
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for i in jmap.keySet().toArray():
                if int(i) not in baseline_ids:
                    jmap.get(i).unpersist()
        except Exception:
            pass

    # (NOTE: the old recycle_session() in-process "fresh session" helper is
    # gone — milestone 18's ~3× overstatement fix was incomplete because
    # spark.stop() keeps the py4j JVM alive; heavy sections now run in
    # genuinely fresh OS children: --tpch-suite-only and --extras-only.)

    def timed(name: str, fn) -> None:
        # Headline statistic (round 10, VERDICT r9 item 2): the MEDIAN of
        # WARM_REPS identical runs, after one untimed cold pass.  Two
        # consecutive rounds of BENCH_r{8,9} showed +13% "regressions"
        # that interleaved same-day A/Bs proved were pure cold-pass host
        # drift (same-code cold totals swung 26.9→49.1s) while warm
        # medians matched <5% — so the cold one-shot is NOT a statistic a
        # contended single driver shot can reproduce.  The cold wall is
        # kept as extras[f"{name}_cold_sec"] for plan-cost visibility.
        nonlocal total
        baseline = _persistent_ids()
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
            ensure_alive()
            # a failed query's leftover persisted blocks would otherwise
            # pollute every later measurement (and later baselines would
            # snapshot the leak into the protected set)
            release_stray_state(baseline)
            return
        extras[f"{name}_cold_sec"] = round(time.perf_counter() - t0, 3)
        release_stray_state(baseline)
        try:
            dt = round(median_warm(fn), 3)
        except Exception as exc:  # cold pass succeeded; keep it as headline
            print(f"bench: {name} warm reps failed: {exc}", file=sys.stderr)
            ensure_alive()
            dt = extras[f"{name}_cold_sec"]
        timings[name] = dt
        total += dt

    WARM_REPS = int(os.environ.get("SPARK_GRAFT_WARM_REPS", "3"))

    def median_warm(fn) -> float:
        # Single warm samples on this host swing ±30% (VERDICT r3: a 7.8s
        # first-rep vs 1.5s steady-state) — report the median of
        # WARM_REPS identical runs so round-over-round warm numbers are
        # comparable.  The cold first pass is reported separately.
        # Stray persisted state is dropped BETWEEN reps (untimed) so rep
        # N doesn't pay for rep N-1's leftovers.
        baseline = _persistent_ids()
        reps = []
        for _ in range(max(WARM_REPS, 1)):  # 0 would IndexError below
            t0 = time.perf_counter()
            fn()
            reps.append(time.perf_counter() - t0)
            release_stray_state(baseline)
        return sorted(reps)[len(reps) // 2]

    # ---- untimed setup: build + persist the RaBitQ index (create_index) ----
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= NQ).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    queries = emb.where(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= NQ)).cache()
    # Measurement-boundary fix (r11, guide §1.4, disclosed in
    # OPTIMIZATION_r11.md): the index build was the FIRST Spark action of
    # this session, so index_build_sec double-counted generic session
    # cold-start — JVM class loading, the first parquet scan's codegen,
    # Python worker pool spin-up (r9 5.17s vs r10 9.35s on similar code
    # was this surcharge swinging with the host, not build cost).  Warm
    # the engine UNTIMED with work the build does NOT reuse: a count of
    # the input table and a 1k-row identity Arrow pass.  Centroid
    # training + quantize + persist — the actual create_index work —
    # stay fully inside the timed region, so r11's number is the same
    # work minus the startup artifact.
    emb.count()
    spark.range(1000).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    index_df = index_df.persist()
    n_indexed = index_df.count()
    extras["index_build_sec"] = round(time.perf_counter() - t0, 3)
    extras["index_rows"] = n_indexed
    cents_full = rabitq.centroids_with_rotation(spark, cents, meta).cache()
    cents_full.count()
    # Index-residency prep (round 10): collect the K-row rotated-centroid
    # table ONCE here, in the untimed create_index section, and hand it
    # to every timed search below via rabitq_search(centroid_rows=...) —
    # the serving loop's documented shape (VERDICT r8/r9 serving items).
    # The reference's test_search clock likewise has all index-side state
    # in RAM before the timed loop; the per-call collect job it replaces
    # was index movement, not query work.  Timed searches also collect
    # their query batch themselves, inside the timed region, and pass it
    # as query_rows: the planner then needs no count() job, and the
    # collect is the one the broadcast scorer would run anyway.
    cent_rows = cents_full.select("cluster_id", "centroid").collect()

    # ---- timed: search-only over the persisted index (test_search) ----
    # Throughput uses a 500-query batch (the contract holdout is only 10
    # rows — too few for a stable QPS; batch QPS amortizes Spark's ~0.5s
    # job-scheduling floor: measured 95/481/941 qps at 100/500/1990
    # queries, same index).  Recall/ratio quality anchors use the same
    # batch against exact GT from the map-side-combined scan.
    bench_queries = (
        emb.where(F.col("vec_id") >= NQ)
        .limit(500)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .cache()
    )
    nq = bench_queries.count()
    gt = knn.exact_knn_combined(bench_queries, base, k=10).persist()
    gt.count()
    for nprobe in (3, 6):
        t0 = time.perf_counter()
        res = rabitq.rabitq_search(
            bench_queries, index_df, cents_full, meta, nprobe=nprobe, k=10,
            centroid_rows=cent_rows, query_rows=bench_queries.collect(),
        )
        res.persist().count()
        dt = time.perf_counter() - t0
        extras[f"rabitq_search_np{nprobe}_cold_sec"] = round(dt, 3)
        extras[f"rabitq_qps_np{nprobe}"] = round(nq / dt, 2)
        rec = (
            metrics.recall_per_query(res, gt, 10).agg(F.avg("recall").alias("r")).first()["r"]
        )
        extras[f"rabitq_recall_np{nprobe}"] = round(float(rec), 4)
        res.unpersist()
        # steady-state wall: identical search, JIT/scan warm — this is
        # the number comparable to the reference's in-RAM loop (the cold
        # pass pays Spark's one-time codegen + scan setup).  Round 10:
        # the warm MEDIAN is the headline timing (VERDICT r9 item 2 —
        # cold one-shots drift ±30% on a contended host); the cold wall
        # stays above as an extra.
        dt_warm = median_warm(
            lambda: rabitq.rabitq_search(
                bench_queries, index_df, cents_full, meta, nprobe=nprobe, k=10,
                centroid_rows=cent_rows, query_rows=bench_queries.collect(),
            ).write.format("noop").mode("overwrite").save()
        )
        timings[f"rabitq_search_np{nprobe}"] = round(dt_warm, 3)
        total += dt_warm
        extras[f"rabitq_qps_np{nprobe}_warm"] = round(nq / dt_warm, 2)
    gt.unpersist()

    # Amortized sweep (VERDICT r4 item 8): one scored pool tagged by
    # probe_rank serves BOTH grid points — per-point results are
    # row-identical to the standalone searches (asserted in tests).
    # Comparable figure: the two standalone searches above pay the
    # candidate scoring twice; the target is sweep < 1.5× single-np6.
    def run_sweep() -> None:
        res, scored_pool = rabitq.rabitq_search_sweep(
            bench_queries, index_df, cents_full, meta, nprobes=[3, 6], k=10,
            centroid_rows=cent_rows, query_rows=bench_queries.collect(),
        )
        for np_ in (3, 6):
            res[np_].write.format("noop").mode("overwrite").save()
        scored_pool.unpersist()

    baseline = _persistent_ids()
    t0 = time.perf_counter()
    run_sweep()
    extras["sweep_np3_np6_sec"] = round(time.perf_counter() - t0, 3)
    release_stray_state(baseline)
    extras["sweep_np3_np6_warm_sec"] = round(median_warm(run_sweep), 3)

    # Peak batch throughput: Spark's ~1.2s/job floor is FIXED — QPS
    # scales with batch size until compute dominates (measured 407 qps
    # at 500 queries vs ~1600 at 1990, same sf0.1 index).  The full-batch
    # warm number is the honest comparison point against the reference's
    # single-thread in-RAM 1237 qps (BASELINE.md) — and it exceeds it,
    # at a higher recall operating point (np6: .78 vs the baseline .653).
    big_queries = (
        emb.where(F.col("vec_id") >= NQ)
        .limit(1990)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .cache()
    )
    nbig = big_queries.count()
    rabitq.rabitq_search(
        big_queries, index_df, cents_full, meta, nprobe=6, k=10,
        centroid_rows=cent_rows, query_rows=big_queries.collect(),
    ).write.format("noop").mode("overwrite").save()  # warm-up pass
    dt_big = median_warm(
        lambda: rabitq.rabitq_search(
            big_queries, index_df, cents_full, meta, nprobe=6, k=10,
            centroid_rows=cent_rows, query_rows=big_queries.collect(),
        ).write.format("noop").mode("overwrite").save()
    )
    extras["rabitq_qps_np6_fullbatch_warm"] = round(nbig / dt_big, 2)
    extras["rabitq_fullbatch_nq"] = nbig
    big_queries.unpersist()

    # ---- timed: registered pipeline queries end-to-end ----
    # timed() itself reports the warm-median headline and stashes the
    # cold wall in extras (round 10) — the old separate second warm pass
    # is folded in, so each query runs 1 cold + WARM_REPS warm total.
    qmap = entrymod.queries()
    for name in PIPELINE_QUERIES:
        if name in qmap:
            timed(name, lambda n=name: run_full(qmap[n](spark, sf_dir)))

    # (composed-pipeline extras run in the --extras-only child above —
    #  fresh JVM; see extras_suite_child)

    # ---- optional: full recall/QPS curve (BASELINE.md shape comparison) ----
    # Off by default to keep the driver's per-round bench fast; set
    # SPARK_GRAFT_SWEEP=1 to append the swept curve.
    if os.environ.get("SPARK_GRAFT_SWEEP"):
        from extended_rabitq_spark import harness
        from extended_rabitq_spark.operators import ivf as ivf_ops
        from extended_rabitq_spark.operators import rabitq as rabitq_ops

        # rebuild rather than reuse the headline section's frames (their
        # caches were released) — the seeded build is deterministic, so
        # this is the same index
        emb2 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base2 = emb2.where(F.col("vec_id") >= NQ).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        cents2 = ivf_ops.label_centroids(emb2.where(F.col("vec_id") >= NQ))
        index2, meta2 = rabitq_ops.build_index(base2, cents2, total_bits=4)
        index2 = index2.persist()
        index2.count()
        queries2 = (
            emb2.where(F.col("vec_id") >= NQ)
            .limit(500)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        )
        # rotate (and collect) the centroids once, outside the timed searches
        cents_full2 = rabitq_ops.centroids_with_rotation(spark, cents2, meta2)
        rows = harness.nprobe_sweep(
            queries2,
            base2,
            lambda nprobe: rabitq_ops.rabitq_search(
                queries2, index2, cents_full2, meta2, nprobe=nprobe, k=10
            ),
            k=10,
        )
        results_dir = os.environ.get("SPARK_GRAFT_RESULTS_DIR")
        if results_dir:
            # the reference's committed CSV artifacts (S7):
            # results/exrabitq/<ds>_<tag>.csv + results/indexing_time/<ds>.csv
            harness.save_results_csv(rows, results_dir, f"sf{sf}", tag="exhaf4")
            harness.save_indexing_time_csv(
                results_dir, f"sf{sf}", extras["index_build_sec"] / 60.0
            )
        extras["sweep"] = [
            [r.nprobe, round(r.recall, 4), round(r.ratio, 4), round(r.qps, 2)]
            for r in rows
        ]

    extras["calib_pyloop_post_sec"] = calib_pyloop_sec()

    out = {
        # round 10: the headline is the SUM OF WARM MEDIANS (median of
        # WARM_REPS identical runs per query after one untimed cold
        # pass) — a statistic a contended single driver shot reproduces
        # within ~5%, unlike the old cold-one-shot sum whose ±30% host
        # drift masqueraded as regression in BENCH_r08/r09.  Cold walls
        # ride in extras as {name}_cold_sec.
        "metric": "headline_queries_warm_median_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        # the ~10 headline extras (QPS/recall/build/tpch) ride ON the
        # final parseable line (VERDICT r6 item 2b) — r6 lost them when
        # the long extras line overflowed the driver's tail capture
        "extras": {k: extras[k] for k in HEADLINE_EXTRAS if k in extras},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The driver keeps only the LAST ~2 KB of stdout; r5's single fat
    # line got its head truncated there (BENCH_r05 "parsed": null).
    # Emit the long extras tail on its own earlier line and keep the
    # final line — the one the driver json-parses — compact.
    print(json.dumps({f"extra_{k}": v for k, v in extras.items()}))
    # Full untruncated result on its own earlier line too (ADVICE r6):
    # if the tail-capture guard below drops query timings from the final
    # line, nothing is silently lost — this line has them all.
    print("BENCH_FULL " + json.dumps(out))
    final_line = json.dumps(out)
    dropped = 0
    while len(final_line) > 1800 and out["queries"]:  # tail-capture guard
        out["queries"].popitem()
        dropped += 1
        out["truncated_queries"] = dropped  # consumers can tell it's partial
        final_line = json.dumps(out)
    print(final_line)
    spark.stop()


if __name__ == "__main__":
    if "--tpch-suite-only" in sys.argv:
        tpch_suite_child()
    elif "--tpch-overlap-only" in sys.argv:
        tpch_suite_child(
            overlap=int(os.environ.get("SPARK_GRAFT_TPCH_OVERLAP", "4"))
        )
    elif "--extras-only" in sys.argv:
        extras_suite_child()
    else:
        main()

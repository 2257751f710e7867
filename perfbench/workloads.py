"""The benchmark's workloads.

Each is a closed loop with one client on the driver thread: the next
request is sent only after the previous one returned and was checked.
The engine is used only through its public calls, each timed from here.
Inputs cross into Spark as Arrow tables before any timer starts.

- ``ann_batch``: big reranked batches against an index persisted in
  memory.  Executor-side estimate and rerank do most of the work.
- ``serve_small``: 16 driver-resident queries per request against the
  same kind of index.  Plan construction, driver probe prep and the
  Spark job floor dominate.
- ``ingest_mixed``: rounds of append-then-search against an index saved
  on local disk, with one delete plus compaction per run.  Build and
  quantize work and the small files appends leave behind dominate.

A traced run gives both the per-layer numbers and the tracing overhead:
the search loops trace every second request and leave the others
untraced; ``ingest_mixed`` traces every round and repeats the round's
load and search untraced, on the same index.

BENCHMARK.json lists ``ann_batch`` and ``ingest_mixed``: on a 4-core host
two workloads are what the benchmark's time budget holds.  ``serve_small``
runs on request (``--workload serve_small``).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from extended_rabitq_spark.operators import ivf, rabitq
from perfbench.data import (
    APPENDS, CORPUS, DELETES, QUERIES, Mixture, check_response, exact_topk,
    group_rows, recall_at_k, stream,
)
from perfbench.tracing import SPARK_COUNTERS

NPROBE, TOPK, REFINE, BITS = 8, 10, 4, 4
RECALL_FLOOR = 0.85
SERVE_BATCH = 16        # queries per serve_small request
MAX_ROUNDS = 6          # ingest rounds the append stream is generated for
MAINTENANCE_AFTER = 2   # ingest round after which delete + compact run
DELETE_FRAC = 0.01      # share of the live ids that delete removes
SELF_QID = 1 << 40  # qid offset of appended vectors queried as themselves
# untimed requests before a search loop's clock starts: the JVM is still
# compiling the search plan's hot paths through the first few
WARMUP = 2
FAILED = object()  # what Bench.attempt returns when the call raised


@dataclass(frozen=True)
class Sizes:
    corpus: int = 20_000          # ann_batch / serve_small corpus
    lists: int = 256              # their IVF cells (K)
    batch_queries: int = 1_000    # queries per ann_batch request
    serve_pool: int = 2_000       # held-out queries of serve_small ...
    serve_warm: int = 512         # ... of which its warm-up request takes
    ingest_base: int = 10_000     # ingest_mixed index size before appends
    ingest_lists: int = 64        # its IVF cells
    ingest_append: int = 2_500    # vectors appended per ingest round
    ingest_queries: int = 200     # queries per ingest search ...
    ingest_self: int = 8          # ... of which this round's appended vectors
    setups: int = 3               # index builds per run; setup_s is their median


class Bench:
    """State of one run: session, tracer, sizes and the tallies."""

    def __init__(self, spark, tracer, seed: int, seconds: float, sizes: Sizes,
                 workdir: str) -> None:
        self.spark, self.sc, self.tracer = spark, spark.sparkContext, tracer
        self.seed, self.seconds, self.sizes, self.workdir = seed, seconds, sizes, workdir
        self.mix = Mixture()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.hits = self.possible = 0
        self.samples: dict[str, list[float]] = {}
        self.stored: dict[str, float] = {}  # index size, as the workload stores it
        self.traced_ms: dict[str, float] = {}  # traced request id -> its wall

    def frame(self, **cols):
        """Cached DataFrame of numpy columns; 2-D float32 → array<float>."""
        arrays = {}
        for name, a in cols.items():
            if a.ndim == 2:
                flat = pa.array(np.ascontiguousarray(a).ravel())
                a = pa.FixedSizeListArray.from_arrays(flat, a.shape[1]).cast(pa.list_(flat.type))
            arrays[name] = a
        df = self.spark.createDataFrame(pa.table(arrays)).persist()
        df.count()
        return df

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def outcome(self, problems: list[str]) -> bool:
        """Count one operation; it failed if it has problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[: max(0, 20 - len(self.problems))])
        return not problems

    def attempt(self, what: str, fn):
        """``fn()``, or FAILED after counting its exception as a failed operation."""
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.outcome([f"{what}: {sys.exc_info()[1]!r}"[:300]])
            return FAILED

    def score(self, table, queries: dict, vectors: np.ndarray, truth: dict,
              deleted: frozenset = frozenset()) -> list[str]:
        """Check one response and add its recall against ``truth``."""
        groups = group_rows(table)
        hits, possible = recall_at_k({q: g[1] for q, g in groups.items()}, truth)
        self.hits += hits
        self.possible += possible
        return check_response(groups, queries, vectors, TOPK, deleted)

    def timed_search(self, make):
        """(Arrow result, construct s, execute s) of one search."""
        t0 = time.perf_counter()
        with self.tracer.span("rabitq.rabitq_search"):
            df = make()
        t1 = time.perf_counter()
        with self.tracer.span("execute"):
            table = df.toArrow()
        return table, t1 - t0, time.perf_counter() - t1

    def record_search(self, rid: str, traced: bool, wall_ms: float, construct: float,
                      execute: float, nq: int, estimate) -> None:
        """Samples of one checked search; a traced one also times ``estimate()``,
        the same search without rerank, outside the request."""
        self.sample("wall_ms", wall_ms)
        self.sample("construct_ms", 1e3 * construct)
        self.sample("execute_ms", 1e3 * execute)
        self.sample("queries", nq)
        if not self.tracer.enabled:
            return
        self.sample("traced_wall_ms" if traced else "untraced_wall_ms", wall_ms)
        if traced:
            with self.tracer.span("estimate_only", request=f"{rid}-estimate"):
                df = estimate()
                t0 = time.perf_counter()
                df.toArrow()
                self.sample("estimate_ms", 1e3 * (time.perf_counter() - t0))

    def pool_stats(self, queries, codes, centroids, meta) -> None:
        """Traced runs only: candidate pool per query and the share of it the
        rank cut keeps for rerank."""
        if not self.tracer.enabled:
            return
        with self.tracer.span("rabitq.rabitq_threshold_stats", request="pool"):
            t = rabitq.rabitq_threshold_stats(
                queries, codes, centroids, meta, nprobe=NPROBE, k=TOPK
            ).toArrow()
        pool = t.column("n_pool").to_numpy().astype(np.float64)
        self.sample("pool_per_query", float(pool.mean()))
        self.sample("rerank_frac", float((np.minimum(REFINE * TOPK, pool) / pool).mean()))

    def setup(self, i: int, base, n: int, lists: int, persist):
        """One timed index set-up: k-means training, ``build_index``, then
        ``persist(index, centroids, meta)``, which materializes it."""
        with self.tracer.span("setup", request=f"setup{i}"):
            t0 = time.perf_counter()
            with self.tracer.span("ivf.sampled_kmeans_centroids"):
                cent = ivf.sampled_kmeans_centroids(base, lists, vec="vec",
                                                    sample_size=40 * lists, seed=self.seed)
            t1 = time.perf_counter()
            with self.tracer.span("rabitq.build_index"):
                index, meta = rabitq.build_index(base, cent, total_bits=BITS)
            with self.tracer.span("materialize"):
                index = persist(index, cent, meta)
            t2 = time.perf_counter()
        self.sample("train_s", t1 - t0)
        self.sample("build_s", t2 - t1)
        self.sample("build_vps", n / (t2 - t1))
        self.sample("setup_s", t2 - t0)
        return index, cent, meta


def cached_bytes(sc) -> int:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, total bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


def in_memory_index(b: Bench, base, n: int):
    """``setups`` builds of a memory-persisted index → (codes, centroids, meta)."""

    def persist(index, cent, meta):
        index = index.persist()
        index.count()
        return index

    codes = None
    for i in range(b.sizes.setups):
        if codes is not None:
            codes.unpersist(blocking=True)
        before = cached_bytes(b.sc)
        codes, cent, meta = b.setup(i, base, n, b.sizes.lists, persist)
    b.stored = {"index_bytes": cached_bytes(b.sc) - before, "vectors": n}
    return codes, cent, meta


def search_loop(b: Bench, request) -> None:
    """Closed loop: ``WARMUP`` untimed requests, then requests until
    ``seconds`` have elapsed, at least one.  ``request(i)`` → (make(rerank), check(table),
    queries asked)."""
    deadline = None
    i = 0
    while i <= WARMUP or time.perf_counter() < deadline:
        make, check, nq = request(i)
        rid, traced = f"req{i}", (i - WARMUP) % 2 == 0
        with b.tracer.paused(not traced), b.tracer.request(rid):
            res = b.attempt(rid, lambda: b.timed_search(lambda: make(True)))
        if res is not FAILED:
            table, construct, execute = res
            wall_ms = 1e3 * (construct + execute)
            if b.outcome(check(table)) and i >= WARMUP:
                if traced and b.tracer.enabled:
                    b.traced_ms[rid] = wall_ms
                b.record_search(rid, traced, wall_ms, construct, execute, nq,
                                lambda: make(False))
        if i == WARMUP - 1:
            deadline = time.perf_counter() + b.seconds
        i += 1


def ann_batch(b: Bench) -> None:
    s = b.sizes
    X = b.mix.sample(stream(b.seed, CORPUS), s.corpus)
    Q = b.mix.sample(stream(b.seed, QUERIES), s.batch_queries)
    base = b.frame(id=np.arange(len(X)), vec=X)
    qdf = b.frame(qid=np.arange(len(Q)), qvec=Q)
    codes, cent, meta = in_memory_index(b, base, len(X))
    truth_ids, _ = exact_topk(Q, X, np.arange(len(X)), TOPK)
    queries, truth = dict(enumerate(Q)), dict(enumerate(truth_ids))

    def make(rerank):
        return rabitq.rabitq_search(
            qdf, codes, cent, meta, nprobe=NPROBE, k=TOPK, refine=REFINE,
            rerank_base=base if rerank else None,
        )

    search_loop(b, lambda i: (make, lambda t: b.score(t, queries, X, truth), len(Q)))
    b.pool_stats(qdf, codes, cent, meta)


def serve_small(b: Bench) -> None:
    s = b.sizes
    X = b.mix.sample(stream(b.seed, CORPUS), s.corpus)
    Q = b.mix.sample(stream(b.seed, QUERIES), s.serve_pool)
    # batch 0, the first warm-up request, takes the first `serve_warm`
    # queries through the same serving path, so recall rests on enough
    # queries; the other requests cycle through the rest, SERVE_BATCH at a time
    batch = np.maximum(0, (np.arange(len(Q)) - s.serve_warm) // SERVE_BATCH + 1)
    base = b.frame(id=np.arange(len(X)), vec=X)
    qdf = b.frame(qid=np.arange(len(Q)), qvec=Q, batch=batch)
    codes, cent, meta = in_memory_index(b, base, len(X))
    cent_rows = cent.select("cluster_id", "centroid").collect()
    truth_ids, _ = exact_topk(Q, X, np.arange(len(X)), TOPK)
    batches = []
    for j in range(batch[-1] + 1):
        qids = np.flatnonzero(batch == j).tolist()
        batches.append((
            qdf.where(F.col("batch") == j).select("qid", "qvec"),
            [(q, Q[q].tolist()) for q in qids],
            {q: Q[q] for q in qids},
            {q: truth_ids[q] for q in qids},
        ))

    def request(i):
        sub, rows, queries, truth = batches[0 if i == 0 else 1 + (i - 1) % (len(batches) - 1)]

        def make(rerank):
            return rabitq.rabitq_search(
                sub, codes, cent, meta, nprobe=NPROBE, k=TOPK, refine=REFINE,
                rerank_base=base if rerank else None,
                query_rows=rows, centroid_rows=cent_rows,
            )

        return make, lambda t: b.score(t, queries, X, truth), len(rows)

    search_loop(b, request)
    b.pool_stats(qdf.select("qid", "qvec"), codes, cent, meta)


def ingest_mixed(b: Bench) -> None:
    s = b.sizes
    n0, held = s.ingest_base, s.ingest_queries - s.ingest_self
    vectors = np.vstack([
        b.mix.sample(stream(b.seed, CORPUS), n0),
        b.mix.sample(stream(b.seed, APPENDS), MAX_ROUNDS * s.ingest_append),
    ])
    Q = b.mix.sample(stream(b.seed, QUERIES), 4 * held)
    ids = np.arange(len(vectors))
    base = b.frame(id=ids[:n0], vec=vectors[:n0])
    # the rerank base holds every vector the run may append: only ids in
    # the index are ever shortlisted, so the extra rows never surface
    every = b.frame(id=ids, vec=vectors)
    appends = b.frame(id=ids[n0:], vec=vectors[n0:],
                      round=np.repeat(np.arange(MAX_ROUNDS), s.ingest_append))
    qdf = b.frame(qid=np.arange(len(Q)), qvec=Q, batch=np.arange(len(Q)) // held)

    def save(index, cent, meta):
        with b.tracer.span("rabitq.save_index"):
            rabitq.save_index(index, cent, meta, path)

    path = None
    for i in range(s.setups):
        if path is not None:
            shutil.rmtree(path)
        path = os.path.join(b.workdir, f"index{i}")
        b.setup(i, base, n0, s.ingest_lists, save)

    alive = np.zeros(len(vectors), bool)
    alive[:n0] = True
    deleted: set[int] = set()

    def own_ids(r):
        first = n0 + r * s.ingest_append
        return np.arange(first, first + s.ingest_self)

    def search(r, index, rerank=True):
        """Search round ``r``'s queries on a loaded index: a block of held-out
        queries plus the first vectors the round appended."""
        codes, cents, meta = index
        own = appends.where(F.col("id").isin(own_ids(r).tolist())).select(
            (F.col("id") + SELF_QID).alias("qid"), F.col("vec").alias("qvec"))
        queries = qdf.where(F.col("batch") == r % 4).select("qid", "qvec").unionByName(own)
        return rabitq.rabitq_search(
            queries, codes, cents, meta, nprobe=NPROBE, k=TOPK, refine=REFINE,
            rerank_base=every if rerank else None,
        )

    def check(table, r):
        held_ids = np.arange((r % 4) * held, (r % 4 + 1) * held)
        live = np.flatnonzero(alive)
        truth_ids, _ = exact_topk(Q[held_ids], vectors[live], live, TOPK)
        queries = {int(q): Q[q] for q in held_ids}
        queries.update({SELF_QID + int(v): vectors[v] for v in own_ids(r)})
        problems = b.score(table, queries, vectors, dict(zip(held_ids.tolist(), truth_ids)),
                           frozenset(deleted))
        groups = group_rows(table)
        for v in own_ids(r):
            g = groups.get(SELF_QID + int(v))
            if g is not None and g[1][0] != v:
                problems.append(f"appended id {v}: not rank 1 when queried as itself")
        return problems

    def read(r, rid):
        """Load the index and search round ``r``, checked → (wall ms, load ms,
        construct s, execute s), or None when a step failed."""
        t0 = time.perf_counter()
        with b.tracer.span("rabitq.load_index"):
            index = b.attempt(f"{rid} load", lambda: rabitq.load_index(b.spark, path))
        t1 = time.perf_counter()
        if index is FAILED:
            return None
        b.outcome([])
        res = b.attempt(rid, lambda: b.timed_search(lambda: search(r, index)))
        wall_ms = 1e3 * (time.perf_counter() - t0)
        if res is FAILED:
            return None
        table, construct, execute = res
        if not b.outcome(check(table, r)):
            return None
        return wall_ms, 1e3 * (t1 - t0), construct, execute

    def untraced(r):
        with b.tracer.paused(True):
            got = read(r, f"round{r}-untraced")
        if got is not None:
            b.sample("untraced_wall_ms", got[0])

    # round 0 is the untimed warm-up: checked, not sampled.  Two rounds at
    # least follow the maintenance, so a run samples four appends and four
    # searches.  A traced run repeats each later round's load and search
    # untraced, before the traced pass in even rounds and after it in odd ones.
    deadline = time.perf_counter() + b.seconds
    r = 0
    while (r <= MAINTENANCE_AFTER + 2 or time.perf_counter() < deadline) and r < MAX_ROUNDS:
        rid, twin = f"round{r}", b.tracer.enabled and r > 0
        new = appends.where(F.col("round") == r).select("id", "vec")
        with b.tracer.request(rid):
            t0 = time.perf_counter()
            with b.tracer.span("rabitq.append_to_index"):
                appended = b.attempt(f"{rid} append", lambda: rabitq.append_to_index(new, path))
            append_s = time.perf_counter() - t0
            if appended is not FAILED:
                b.outcome([])
                alive[n0 + r * s.ingest_append: n0 + (r + 1) * s.ingest_append] = True
            if twin and r % 2 == 0:
                untraced(r)
            got = read(r, rid)
            if twin and r % 2 == 1:
                untraced(r)
        if r and appended is not FAILED:
            b.sample("append_s", append_s)
        if r and got is not None:
            wall_ms, load_ms, construct, execute = got
            b.sample("load_ms", load_ms)
            if b.tracer.enabled:
                b.traced_ms[rid] = 1e3 * append_s + wall_ms
            b.record_search(rid, True, wall_ms, construct, execute, s.ingest_queries,
                            lambda: search(r, rabitq.load_index(b.spark, path), False))
        if r == MAINTENANCE_AFTER:
            maintain(b, path, alive, deleted)
        r += 1
    if b.tracer.enabled:
        codes, cents, meta = rabitq.load_index(b.spark, path)
        b.pool_stats(qdf.select("qid", "qvec"), codes, cents, meta)


def maintain(b: Bench, path: str, alive: np.ndarray, deleted: set) -> None:
    """Record the index size, then delete ``DELETE_FRAC`` of the live ids and
    compact; ``alive`` and ``deleted`` follow."""
    files, nbytes = dir_stats(path)
    b.stored = {"index_bytes": nbytes, "vectors": int(alive.sum()), "codes_files": files}
    live = np.flatnonzero(alive)
    gone = np.sort(stream(b.seed, DELETES).choice(
        live, size=max(1, int(DELETE_FRAC * len(live))), replace=False))
    gone_df = b.frame(id=gone)
    with b.tracer.request("maintenance"):
        t0 = time.perf_counter()
        with b.tracer.span("rabitq.delete_from_index"):
            n = b.attempt("delete", lambda: rabitq.delete_from_index(b.spark, path, gone_df))
        t1 = time.perf_counter()
        with b.tracer.span("rabitq.compact_index"):
            compacted = b.attempt("compact", lambda: rabitq.compact_index(b.spark, path))
        t2 = time.perf_counter()
    if n is not FAILED:
        b.outcome([] if n == len(gone) else [f"delete removed {n} of {len(gone)} ids"])
        b.sample("delete_s", t1 - t0)
    if compacted is not FAILED:
        b.outcome([])
        b.sample("compact_s", t2 - t1)
    alive[gone] = False
    deleted.update(gone.tolist())


WORKLOADS = {"ann_batch": ann_batch, "serve_small": serve_small, "ingest_mixed": ingest_mixed}


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def end_to_end(b: Bench) -> dict:
    """name → (value, unit); the same names on every workload."""
    s = b.samples
    if "append_s" in s:
        # the fastest append: append time follows the host's CPU steal more
        # than any other call, and the fastest one is the least disturbed
        write_vps = b.sizes.ingest_append / min(s["append_s"])
    else:
        write_vps = median(s["build_vps"])
    walls = s.get("wall_ms", [])
    return {
        "setup_s": (median(s["setup_s"]), "s"),
        "qps": (sum(s["queries"]) / (1e-3 * sum(walls)) if walls else 0.0, "1/s"),
        "p50_ms": (median(walls), "ms"),
        "recall_at_10": (b.hits / max(1, b.possible), "ratio"),
        "index_bytes_per_vec": (b.stored.get("index_bytes", 0) / max(1, b.stored.get("vectors", 0)),
                                "B/vec"),
        "ingest_vps": (write_vps, "1/s"),
    }


def per_layer(b: Bench, cores: int) -> dict:
    """name → (value, unit) from a traced run; a layer the workload does not
    exercise reads 0."""
    s = b.samples
    counters = [b.tracer.counters[r] for r in b.traced_ms]
    spark = {c: median([x[c] for x in counters]) for c in SPARK_COUNTERS}
    execute = median(s.get("execute_ms", []))
    estimate = median(s.get("estimate_ms", []))
    run_ms = sum(x["executor_run_ms"] for x in counters)
    return {
        "ivf.train_s": (median(s["train_s"]), "s"),
        "rabitq.build_s": (median(s["build_s"]), "s"),
        "rabitq.build_vps": (median(s["build_vps"]), "1/s"),
        "rabitq.search.construct_ms": (median(s.get("construct_ms", [])), "ms"),
        "rabitq.search.execute_ms": (execute, "ms"),
        "rabitq.estimate_ms": (estimate, "ms"),
        "rabitq.rerank_ms": (execute - estimate, "ms"),
        "rabitq.pool_per_query": (median(s.get("pool_per_query", [])), "count"),
        "rabitq.rerank_frac": (median(s.get("rerank_frac", [])), "ratio"),
        "rabitq.append_s": (median(s.get("append_s", [])), "s"),
        "rabitq.load_ms": (median(s.get("load_ms", [])), "ms"),
        "rabitq.delete_s": (median(s.get("delete_s", [])), "s"),
        "rabitq.compact_s": (median(s.get("compact_s", [])), "s"),
        "index.codes_files": (b.stored.get("codes_files", 0), "count"),
        "index.bytes": (b.stored.get("index_bytes", 0), "B"),
        "spark.jobs": (spark["jobs"], "count"),
        "spark.stages": (spark["stages"], "count"),
        "spark.tasks": (spark["tasks"], "count"),
        "spark.failed_tasks": (sum(x["failed_tasks"] for x in counters), "count"),
        "spark.executor_run_ms": (spark["executor_run_ms"], "ms"),
        "spark.executor_cpu_ms": (spark["executor_cpu_ms"], "ms"),
        "spark.shuffle_read_bytes": (spark["shuffle_read_bytes"], "B"),
        "spark.shuffle_write_bytes": (spark["shuffle_write_bytes"], "B"),
        "spark.executor_share": (run_ms / max(1e-9, sum(b.traced_ms.values()) * cores),
                                 "ratio"),
        "trace.overhead_ms": (median(s.get("traced_wall_ms", []))
                              - median(s.get("untraced_wall_ms", [])), "ms"),
    }

"""Structured Streaming operators (SURVEY §2.9: the reference is strictly
batch; these extend the engine to streaming ingest/serving, north-star
surface).

Design: every streaming op reuses the batch operator's logic — the same
column expressions run under ``readStream`` with watermarks.  Tests drive
them with ``Trigger.AvailableNow`` over the parquet fixtures into a memory
sink, which exercises the real micro-batch machinery deterministically.

At scale: event ingest is a Kafka/files source partitioned by arrival;
windowed aggregates shuffle by (window, key) with watermark-bounded state;
the KNN serving join broadcasts the (small) index-side probe artifacts
into each micro-batch — the batch plan and the stream plan are the same
Catalyst plan modulo the StateStore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (schema pinned from the
    batch reader, same ts handling as tables.load_events — int64 nanos in
    older fixtures, native TIMESTAMP(MICROS) in current ones;
    maxFilesPerTrigger=1 keeps micro-batches deterministic)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file source requires a *directory*; point it at the sf dir with a
    # glob filter selecting just the events file.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(f"{sf_dir}/")
    )
    if isinstance(raw_schema["ts"].dataType, LongType):
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def exact_value_sum(col: str = "value") -> "F.Column":
    """Order-independent, engine-portable SUM over a double column.

    A plain SUM(double) is order-dependent (partition/merge order changes
    the low bits), and double→DECIMAL casts round differently across
    engines (Spark rounds the shortest decimal repr HALF_UP; DuckDB
    rounds the full binary value), so neither hashes stably against a
    DuckDB oracle.  Instead: fix point at 1 µ-unit — floor(v*1e6 + 0.5)
    is bit-identical IEEE arithmetic in both engines — sum exactly as
    BIGINT (associative), and present as DOUBLE (BIGINT→DOUBLE and /1e6
    are again IEEE-identical).  Scales: the BIGINT partial sums hold
    ~9.2e18 µ-units ≈ 9.2e12 in value units."""
    micros = F.floor(F.col(col) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return (F.sum(micros).cast("double") / F.lit(1000000.0)).alias("sum_value")


# DuckDB oracle twin of exact_value_sum (same IEEE ops, same fixed point).
EXACT_VALUE_SUM_SQL = (
    "CAST(sum(CAST(floor({col} * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0"
)


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts + value sums per event_type with late-data
    watermark → (window_start, window_end, event_type, n_events, sum_value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            exact_value_sum("value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def batch_windowed_event_counts(spark: SparkSession, sf_dir: str, window: str = "1 hour") -> DataFrame:
    """Batch-equivalent of :func:`windowed_event_counts` (same expressions,
    no watermark) — the oracle-checkable twin."""
    from ..tables import load_events

    events = load_events(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            exact_value_sum("value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def synthetic_query_stream(
    spark: SparkSession, rows_per_batch: int, dim: int, num_partitions: int = 2
) -> DataFrame:
    """Deterministic query-load generator → streaming (qid, qvec).

    Uses the ``rate-micro-batch`` source (built for reproducible streaming
    tests: exactly ``rows_per_batch`` rows per micro-batch, monotonically
    increasing ``value``).  Vectors derive from qid entirely JVM-side
    (sin-hash per dimension — no Python in the generator), so a run is
    bit-reproducible.  A Kafka source would slot in here unchanged
    (same (qid, qvec) schema); the container has no broker, so the rate
    source is the load generator for the latency benchmark.
    """
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", num_partitions)
        .load()
        .select(
            F.col("value").alias("qid"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"j -> CAST(sin(value * 73856093.0 + j * 19349663.0) AS DOUBLE))"
            ).alias("qvec"),
        )
    )


def serve_latency_benchmark(
    spark: SparkSession,
    index_path: str,
    rows_per_batch: int = 50,
    n_batches: int = 3,
    nprobe: int = 3,
    k: int = 10,
    timeout_sec: float = 120.0,
    single_job: bool = False,
    conf: dict[str, str] | None = None,
) -> list[dict]:
    """Rate-limited ANN-serving latency benchmark: drive the saved index
    with the synthetic query stream and record per-micro-batch wall time
    and result counts.  Returns one dict per completed batch:
    ``{"batch": i, "n_queries": n, "n_results": m, "latency_sec": s}``.

    The per-batch work is the same two-phase search as batch mode (the
    index side is persisted once, probe artifacts broadcast per batch) —
    micro-batch latency ≈ job-scheduling floor + search time, the honest
    Spark serving number (BASELINE.json note on real-time infra).

    Serving-path knobs (VERDICT r6 item 8 — the p50 is FLOOR-dominated,
    so fewer jobs per batch is the lever):

    * ``single_job=True`` folds the query count and the result count
      into ONE aggregation over the search output — one Spark job per
      micro-batch instead of two, halving the scheduling floor paid
      per batch.  ``n_queries`` then counts queries THAT RETURNED
      RESULTS (identical to the separate count whenever the index is
      non-empty, since every query gets its top-k).
    * ``conf`` — session confs applied for the run and restored after
      (e.g. ``{"spark.sql.adaptive.enabled": "false"}``: AQE's runtime
      re-planning inserts materialization barriers that tiny fixed-size
      micro-batches pay without benefiting from).
    """
    import time

    from pyspark.sql import functions as SF

    from ..operators.rabitq import load_index, rabitq_search

    saved_conf: dict[str, str | None] = {}
    for key, val in (conf or {}).items():
        saved_conf[key] = spark.conf.get(key, None)
        spark.conf.set(key, val)

    codes, centroids, meta = load_index(spark, index_path)
    codes = codes.persist()
    codes.count()
    # collect the (small, immutable) centroid table ONCE — the broadcast
    # scorer's per-batch probe selection then runs on this driver-local
    # list instead of paying a collect job every micro-batch
    cent_rows = centroids.select("cluster_id", "centroid").collect()
    dim = meta["dim"]
    stream = synthetic_query_stream(spark, rows_per_batch, dim)
    stats: list[dict] = []

    # the batch rows are collected inside the timed region and passed as
    # query_rows: without them the search planner would count the batch
    # (one more scheduling floor per micro-batch) and the broadcast
    # scorer collect it anyway.  query_rows skip the cosine/ip query
    # transforms, so only an L2 index takes them.
    l2 = meta.get("metric", "l2") == "l2"

    def _serve(batch_df: DataFrame, epoch: int) -> None:
        t0 = time.perf_counter()
        rows = batch_df.select("qid", "qvec").collect() if l2 else None
        if single_job:
            res = rabitq_search(
                batch_df, codes, centroids, meta, nprobe=nprobe, k=k,
                centroid_rows=cent_rows, query_rows=rows,
            )
            agg = res.agg(
                SF.count("*").alias("n_r"),
                SF.countDistinct("qid").alias("n_q"),
            ).collect()[0]
            n_q, n_r = int(agg["n_q"]), int(agg["n_r"])
            if n_q == 0:
                return
        else:
            n_q = batch_df.count()
            if n_q == 0:
                return
            res = rabitq_search(
                batch_df, codes, centroids, meta, nprobe=nprobe, k=k,
                centroid_rows=cent_rows, query_rows=rows,
            )
            n_r = res.count()
        stats.append(
            {
                "batch": int(epoch),
                "n_queries": int(n_q),
                "n_results": int(n_r),
                "latency_sec": round(time.perf_counter() - t0, 4),
            }
        )

    q = stream.writeStream.foreachBatch(_serve).start()
    t_start = time.time()
    try:
        while len(stats) < n_batches and time.time() - t_start < timeout_sec:
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(30)
        codes.unpersist()
        for key, val in saved_conf.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
    return stats


def serve_local_batches(
    spark: SparkSession,
    index_path: str,
    rows_per_batch: int = 50,
    n_batches: int = 3,
    nprobe: int = 3,
    k: int = 10,
    conf: dict[str, str] | None = None,
) -> list[dict]:
    """ONE-Spark-job-per-batch serving floor (VERDICT r9 item 5).

    The realistic low-latency serving shape: query batches arrive
    OUTSIDE Spark (an RPC handler holds them driver-side), so the
    query side never needs a collect job — the batch rows go straight
    into the broadcast scorer via ``rabitq_search(query_rows=...)``
    and the only Spark job per batch is the search+count action itself.
    Generates the SAME deterministic query load as
    :func:`synthetic_query_stream` (qid-keyed sin-hash vectors), in
    numpy on the driver.

    Floor accounting per batch: streaming ``single_job`` mode =
    scheduling floor × 2 (query-side collect inside the scorer + the
    search job); this mode = floor × 1.  Returns the same stat dicts as
    :func:`serve_latency_benchmark`."""
    import math
    import time

    from pyspark.sql import functions as SF

    from ..operators.rabitq import load_index, rabitq_search

    saved_conf: dict[str, str | None] = {}
    for key, val in (conf or {}).items():
        saved_conf[key] = spark.conf.get(key, None)
        spark.conf.set(key, val)
    try:
        codes, centroids, meta = load_index(spark, index_path)
        codes = codes.persist()
        codes.count()
        cent_rows = centroids.select("cluster_id", "centroid").collect()
        dim = meta["dim"]
        # dummy distributed query frame: required by the API (it feeds
        # the rerank join, unused here) — never evaluated, no job
        schema = "qid long, qvec array<double>"
        stats: list[dict] = []
        qid0 = 0
        for epoch in range(n_batches):
            # the rate source's generator, driver-side: qvec[j] =
            # sin(qid·73856093 + j·19349663)
            rows = [
                (q, [math.sin(q * 73856093.0 + j * 19349663.0)
                     for j in range(dim)])
                for q in range(qid0, qid0 + rows_per_batch)
            ]
            qid0 += rows_per_batch
            t0 = time.perf_counter()
            qdf = spark.createDataFrame(rows, schema)
            res = rabitq_search(
                qdf, codes, centroids, meta, nprobe=nprobe, k=k,
                centroid_rows=cent_rows, query_rows=rows,
            )
            agg = res.agg(
                SF.count("*").alias("n_r"),
                SF.countDistinct("qid").alias("n_q"),
            ).collect()[0]
            stats.append({
                "batch": int(epoch),
                "n_queries": int(agg["n_q"]),
                "n_results": int(agg["n_r"]),
                "latency_sec": round(time.perf_counter() - t0, 4),
            })
    finally:
        try:
            codes.unpersist()
        except Exception:
            pass
        for key, val in saved_conf.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
    return stats


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup: drop repeat (user_id, event_type) pairs
    arriving within the watermark window — Spark's built-in stateful
    dedup operator (StateStore-backed), the streaming analog of
    operators/dedup.exact_dedup.  At scale the state is partitioned by
    key across executors; the watermark bounds state size."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def sessionize_user_activity(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based) — F.session_window, the
    stateful custom-window op → (user_id, session_start, session_end,
    n_events, sum_value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            exact_value_sum("value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_index_ingest(
    new_vectors: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_: str = "id",
    vec: str = "vec",
    trigger_available_now: bool = True,
):
    """Continuous index ingest: a stream of new vectors appended into a
    SAVED RaBitQ index via foreachBatch → append_to_index — the
    write-side completion of the index lifecycle (build → save → serve
    → APPEND), with exactly-once per micro-batch from the streaming
    checkpoint.

    Each micro-batch quantizes against the saved centroids/rotation (no
    retrain — standard IVF ingest) and lands as new parquet files inside
    the existing cluster_id partitions; concurrent readers pick them up
    on the next load.  State: none beyond the source offset checkpoint —
    append_to_index is idempotent per batch only via the checkpoint, so
    a replayed batch after checkpoint loss would duplicate rows (the
    same at-least-once caveat every foreachBatch sink has; dedup by id
    at read time if that matters).

    Returns the started StreamingQuery.
    """
    from ..operators.rabitq import append_to_index

    def _sink(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        append_to_index(batch_df, index_path, id_=id_, vec=vec)

    writer = (
        new_vectors.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("index_ingest")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INNER join: each purchase attributed to
    the same user's view events within ``max_gap`` before it →
    (purchase_id, view_id, user_id, gap_us).

    The time-interval predicate (view_ts ∈ [purchase_ts − max_gap,
    purchase_ts]) plus the two watermarks is what lets Structured
    Streaming BOUND the join state: each side holds at most
    watermark+max_gap of per-user history, evicted as the event-time
    frontier advances.  At 100 TB/day this is the only viable shape —
    an unconstrained stream join would buffer both streams forever.
    Works identically on batch DataFrames (same expressions, no
    watermark needed) — the registered ``events_attribution`` query is
    that batch twin, proven equal under Trigger.AvailableNow in
    tests/test_streaming.py."""
    v = views.select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if v.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    joined = v.join(
        p,
        (v["user_id"] == p["user_id"])
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap}")),
        "inner",
    )
    return joined.select(
        "purchase_id",
        "view_id",
        v["user_id"].alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def streaming_dedup_ingest(
    new_docs: DataFrame,
    corpus_path: str,
    decisions_path: str,
    checkpoint_dir: str,
    threshold: float = 0.4,
    id_: str = "doc_id",
    text: str = "text",
    trigger_available_now: bool = True,
    artifacts_path: str | None = None,
):
    """Continuous deduplicating corpus ingest: a stream of documents is
    gated per micro-batch against the ALREADY-ACCEPTED corpus (exact
    md5 tier + MinHash band tier via ``dedup.incremental_dedup``) and
    only unique survivors append to ``corpus_path`` — the streaming
    completion of the production ingest shape the batch operator
    documents (new×corpus joins only, never corpus×corpus).

    Within a micro-batch, exact duplicates collapse first (keep the
    smallest id — the same survivor rule as ``dedup_apply``), then an
    intra-batch NEAR-dup tier (``minhash_lsh_pairs`` over the batch)
    rejects any doc with a smaller-id near-duplicate in the same batch
    — without it the gate's output would depend on batch boundaries
    (two near-dups arriving together would both be admitted, while
    split across batches the second is rejected).  Every
    incoming doc's verdict lands in ``decisions_path`` as
    ``(doc_id, status, dup_of)``; survivors are re-readable immediately
    by the next batch (each batch reads the corpus fresh).  State: the
    source-offset checkpoint only — same at-least-once caveat as
    ``streaming_index_ingest`` on checkpoint loss.

    ``artifacts_path`` is the 100 TB mode: corpus-side hashes, stop
    list, and MinHash band keys persist as parquet artifacts
    (``save_dedup_artifacts``), each batch's gate READS them instead of
    re-shingling the whole corpus text, and each batch appends its
    survivors' artifact rows — per-batch work becomes O(batch × bands),
    independent of corpus size except for the candidate-restricted
    verify tier.  Without it, each batch recomputes corpus state
    in-lineage (fine at fixture scale, quadratic-ish over a stream's
    lifetime).

    Returns the started StreamingQuery.
    """
    import os

    from ..operators.dedup import (
        append_dedup_artifacts,
        incremental_dedup,
        minhash_lsh_pairs,
        normalized,
        save_dedup_artifacts,
    )

    def _sink(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # intra-batch exact collapse: keep min id per normalized hash
        from pyspark.sql import Window

        w = Window.partitionBy("_h").orderBy(id_)
        batch = (
            normalized(batch_df, text)
            .withColumn("_h", F.md5("_norm"))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_keep", F.min(id_).over(Window.partitionBy("_h")))
        )
        survivors_intra = batch.where(F.col("_rn") == 1).drop(
            "_h", "_rn", "_keep", "_norm"
        )
        intra_dups = batch.where(F.col("_rn") > 1)
        # intra-batch near-dup tier: reject any survivor with a
        # smaller-id near-duplicate in the same batch (pairwise
        # keep-min — matches the component-min convention for chains;
        # batch-local stop list, since this tier compares only within
        # the batch).
        near_pairs = minhash_lsh_pairs(
            survivors_intra, threshold=threshold, id_=id_, text=text
        )
        intra_near = near_pairs.groupBy("doc_b").agg(
            F.min("doc_a").alias("_near_of")
        )
        intra_near_verdict = intra_near.select(
            F.col("doc_b").alias(id_),
            F.lit("near_dup").alias("status"),
            F.col("_near_of").cast("long").alias("dup_of"),
        )
        survivors_intra = survivors_intra.join(
            F.broadcast(intra_near.select(F.col("doc_b").alias(id_))),
            on=id_,
            how="left_anti",
        )
        have_corpus = os.path.isdir(corpus_path) and any(
            f.endswith(".parquet") for f in os.listdir(corpus_path)
        )
        if have_corpus:
            corpus = spark.read.parquet(corpus_path)
            verdict = incremental_dedup(
                survivors_intra, corpus, threshold=threshold, id_=id_, text=text,
                artifacts=artifacts_path,
            )
        else:  # first batch: empty corpus, everything unique
            verdict = survivors_intra.select(
                F.col(id_),
                F.lit("unique").alias("status"),
                F.lit(None).cast("long").alias("dup_of"),
            )
        intra_verdict = intra_dups.select(
            F.col(id_),
            F.lit("exact_dup").alias("status"),
            F.col("_keep").cast("long").alias("dup_of"),
        )
        verdict = (
            verdict.unionByName(intra_verdict)
            .unionByName(intra_near_verdict)
            .localCheckpoint(eager=True)
        )
        verdict.write.mode("append").parquet(decisions_path)
        unique_ids = verdict.where(F.col("status") == "unique").select(id_)
        accepted = batch_df.join(F.broadcast(unique_ids), on=id_, how="left_semi")
        accepted.write.mode("append").parquet(corpus_path)
        if artifacts_path is not None:
            if have_corpus:
                append_dedup_artifacts(accepted, artifacts_path, id_=id_, text=text)
            else:  # first batch defines the artifact set (incl. stop list)
                save_dedup_artifacts(accepted, artifacts_path, id_=id_, text=text)

    writer = (
        new_docs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("dedup_ingest")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

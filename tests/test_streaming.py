"""Structured Streaming equivalence tests: the streaming windowed
aggregation under Trigger.AvailableNow must produce exactly the batch
twin's rows (same expressions, real micro-batch machinery)."""

from __future__ import annotations

import pytest

from conftest import FITS_NONE, SF_SMOKE, broadcast_threshold
from extended_rabitq_spark.streaming.stream_ops import (
    batch_windowed_event_counts,
    read_events_stream,
    windowed_event_counts,
)


def test_stream_matches_batch(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    assert stream.isStreaming
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT window_start, window_end, event_type, n_events, sum_value FROM win_counts"
        ).collect()
    }
    want = {tuple(r) for r in batch_windowed_event_counts(spark, SF_SMOKE).collect()}
    assert got == want and len(got) > 0


def test_streaming_knn_foreachbatch(spark, tmp_path):
    """Micro-batch ANN serving: queries streamed through foreachBatch
    against a saved index produce the same top-k as the batch search."""
    import pyspark.sql.functions as F

    from extended_rabitq_spark.operators import ivf, rabitq

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    path = str(tmp_path / "idx")
    rabitq.save_index(index_df, cents, meta, path)
    codes, cents_full, meta2 = rabitq.load_index(spark, path)

    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch_res = {
        tuple(r[:3])
        for r in rabitq.rabitq_search(queries, codes, cents_full, meta2, nprobe=3, k=5).collect()
    }

    # stream the queries as one micro-batch via an in-memory rate-like source
    collected = []

    def serve(bdf, _epoch):
        res = rabitq.rabitq_search(bdf, codes, cents_full, meta2, nprobe=3, k=5)
        collected.extend(tuple(r[:3]) for r in res.collect())

    qdir = str(tmp_path / "qstream")
    queries.coalesce(1).write.parquet(qdir)
    qstream = spark.readStream.schema(queries.schema).parquet(qdir)
    sq = qstream.writeStream.foreachBatch(serve).trigger(availableNow=True).start()
    assert sq.awaitTermination(120), "stream did not finish within 120s"
    assert set(collected) == batch_res and len(batch_res) > 0


def test_streaming_dedup_drops_repeats(spark):
    from extended_rabitq_spark.streaming.stream_ops import read_events_stream, streaming_dedup

    stream = read_events_stream(spark, SF_SMOKE)
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    got = spark.sql("SELECT user_id, event_type, count(*) AS c FROM dedup_stream GROUP BY 1,2")
    assert got.where("c > 1").count() == 0  # at most one event per key
    n_keys_stream = got.count()
    from extended_rabitq_spark.tables import load_events

    n_keys_batch = load_events(spark, SF_SMOKE).select("user_id", "event_type").distinct().count()
    assert n_keys_stream == n_keys_batch  # every key survives exactly once


def test_session_windows(spark):
    from extended_rabitq_spark.streaming.stream_ops import (
        read_events_stream,
        sessionize_user_activity,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    q = (
        sessionize_user_activity(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert len(rows) > 0
    assert all(r.session_end > r.session_start and r.n_events >= 1 for r in rows)
    # full value parity with the registered batch twin (complete mode ==
    # batch session_window on the same fixture; exact_value_sum must
    # merge identically through the streaming state store)
    from extended_rabitq_spark.queries.events import events_sessions_q

    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    got = {tuple(r[c] for c in cols) for r in rows}
    want = {tuple(r[c] for c in cols) for r in events_sessions_q(spark, SF_SMOKE).collect()}
    assert got == want


def test_streaming_topk_pool_matches_batch(spark, tmp_path):
    """The stateful result pool (Pool.hpp as applyInPandasWithState) over
    candidates split across micro-batches must converge to the batch
    top-k."""
    import pyspark.sql.functions as F

    from extended_rabitq_spark.streaming.state_ops import streaming_topk_pool

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    from extended_rabitq_spark.functions import vector as V

    cand = base.crossJoin(F.broadcast(queries)).select(
        "qid", "id", F.expr(V.l2sq("qvec", "vec")).alias("dist")
    )
    # two files → two micro-batches with maxFilesPerTrigger=1
    cdir = str(tmp_path / "cands")
    cand.repartition(2).write.parquet(cdir)
    stream = (
        spark.readStream.schema(cand.schema).option("maxFilesPerTrigger", 1).parquet(cdir)
    )
    q = (
        streaming_topk_pool(stream, k=5)
        .writeStream.format("memory")
        .queryName("pool")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    # last emitted pool per qid == batch top-5
    from pyspark.sql import Window

    from extended_rabitq_spark.operators import knn

    got = {
        (r.qid, r.rank): (r.id, round(r.dist, 9))
        for r in spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY qid, rank ORDER BY dist) rn FROM pool) WHERE rn = 1"
        ).collect()
    }
    want = {
        (r.qid, r.rank): (r.id, round(r.dist, 9))
        for r in knn.exact_knn(queries, base, k=5).collect()
    }
    assert got == want and len(want) == 15


def test_serve_latency_benchmark(spark, tmp_path):
    """Rate-source serving benchmark: deterministic micro-batches flow
    through the saved index; every batch reports k results per query,
    and the run leaves no persisted RDD behind."""
    import pyspark.sql.functions as F

    from extended_rabitq_spark.operators import ivf, rabitq
    from extended_rabitq_spark.streaming.stream_ops import serve_latency_benchmark

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    path = str(tmp_path / "idx")
    rabitq.save_index(index_df, cents, meta, path)

    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    stats = serve_latency_benchmark(
        spark, path, rows_per_batch=20, n_batches=2, nprobe=3, k=5
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert len(stats) >= 2
    for s in stats[:2]:
        assert s["n_queries"] == 20
        assert s["n_results"] == 20 * 5  # k per query
        assert s["latency_sec"] > 0


def test_serve_local_batches_matches_stream_results(spark, tmp_path):
    """r10 one-job serving floor: the driver-local batch mode returns the
    SAME per-query results as a plain rabitq_search over the same
    deterministic query load, and a cogroup-planned batch ignores its
    query_rows."""
    import math

    import pyspark.sql.functions as F

    from extended_rabitq_spark.operators import ivf, rabitq
    from extended_rabitq_spark.streaming.stream_ops import serve_local_batches

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    path = str(tmp_path / "idx")
    rabitq.save_index(index_df, cents, meta, path)

    stats = serve_local_batches(
        spark, path, rows_per_batch=20, n_batches=2, nprobe=3, k=5
    )
    assert len(stats) == 2
    for s in stats:
        assert s["n_queries"] == 20
        assert s["n_results"] == 20 * 5
        assert s["latency_sec"] > 0

    # value law: query_rows path ≡ the distributed query path on the
    # same (qid, qvec) batch
    codes, centroids, meta2 = rabitq.load_index(spark, path)
    dim = meta2["dim"]
    rows = [(q, [math.sin(q * 73856093.0 + j * 19349663.0)
                 for j in range(dim)]) for q in range(20)]
    qdf = spark.createDataFrame(rows, "qid long, qvec array<double>")
    via_rows = rabitq.rabitq_search(
        qdf, codes, centroids, meta2, nprobe=3, k=5, query_rows=rows
    ).collect()
    via_df = rabitq.rabitq_search(
        qdf, codes, centroids, meta2, nprobe=3, k=5
    ).collect()
    assert sorted(map(tuple, via_rows)) == sorted(map(tuple, via_df))
    # a batch the planner sends to the cogroup scorer simply leaves the
    # rows unused
    with broadcast_threshold(spark, FITS_NONE):
        via_cogroup = rabitq.rabitq_search(
            qdf, codes, centroids, meta2, nprobe=3, k=5, query_rows=rows
        )
    assert sorted(r[:3] for r in via_cogroup.collect()) == sorted(
        r[:3] for r in via_rows
    )


def test_streaming_index_ingest(spark, tmp_path):
    """Index lifecycle write side: build+save a small index, stream two
    extra vector batches in via foreachBatch append, then search the
    reloaded index and find a streamed vector as its own top-1."""
    import pyspark.sql.functions as F

    from extended_rabitq_spark.operators import ivf, rabitq
    from extended_rabitq_spark.streaming.stream_ops import streaming_index_ingest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    path = str(tmp_path / "idx")
    rabitq.save_index(index_df, cents, meta, path)
    n0 = spark.read.parquet(f"{path}/codes").count()

    # stream the held-out query vectors in as "new" rows (ids 10000+)
    new = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10_000).alias("id"), F.col("embedding").alias("vec")
    )
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    new.write.parquet(src_dir)
    stream = spark.readStream.schema(new.schema).parquet(src_dir)
    q = streaming_index_ingest(stream, path, ckpt)
    assert q.awaitTermination(60), "stream did not finish within 60s"

    codes, cents_saved, meta2 = rabitq.load_index(spark, path)
    assert codes.count() == n0 + 10
    qs = emb.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = rabitq.rabitq_search(
        qs, codes, cents_saved, meta2, nprobe=cents.count(), k=1,
        rerank_base=None,
    ).collect()
    # the streamed copy of vector 3 (id 10003) is its own nearest code
    assert res and res[0].id == 10_003


def test_stream_stream_attribution_matches_batch(spark):
    """Watermarked stream-stream interval join under AvailableNow equals
    the batch twin (same expressions, real state-store machinery)."""
    import pyspark.sql.functions as F

    from extended_rabitq_spark.streaming.stream_ops import attribution_join
    from extended_rabitq_spark.tables import load_events

    stream = read_events_stream(spark, SF_SMOKE)
    joined = attribution_join(
        stream.where(F.col("event_type") == "view"),
        stream.where(F.col("event_type") == "purchase"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT purchase_id, view_id, user_id, gap_us FROM attrib"
        ).collect()
    }
    ev = load_events(spark, SF_SMOKE)
    want = {
        tuple(r)
        for r in attribution_join(
            ev.where(F.col("event_type") == "view"),
            ev.where(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup_ingest_gates_corpus(spark, tmp_path):
    """Two micro-batches through the deduplicating ingest gate: an
    intra-batch exact dup, a cross-batch exact dup, and a cross-batch
    near-dup are all rejected with the right verdicts; the corpus ends
    with only unique survivors."""
    import time as _time

    from extended_rabitq_spark.streaming.stream_ops import streaming_dedup_ingest

    base3 = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    docs1 = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine ten"),
        (3, base3),
        (6, "alpha beta gamma delta epsilon zeta eta theta"),  # intra dup of 1
    ]
    base9 = "completely different content with no overlap at all whatsoever in this corpus today"
    docs2 = [
        (7, "one two three four five six seven eight nine ten"),  # exact dup of 2
        (8, base3.replace("today", "tonight")),                   # near dup of 3
        (9, base9),
        (10, base9 + " indeed"),  # INTRA-batch near dup of 9
    ]
    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id LONG, text STRING"
    spark.createDataFrame(docs1, schema).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    _time.sleep(1.1)  # file-source orders by mod time: b1 strictly first
    spark.createDataFrame(docs2, schema).coalesce(1).write.parquet(
        str(src / "b2.parquet")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    corpus_path = str(tmp_path / "corpus")
    decisions_path = str(tmp_path / "decisions")
    q = streaming_dedup_ingest(
        stream, corpus_path, decisions_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    corpus_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    )
    assert corpus_ids == [1, 2, 3, 9]
    dec = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.parquet(decisions_path).collect()
    }
    assert dec[1] == ("unique", None)
    assert dec[6] == ("exact_dup", 1)
    assert dec[7] == ("exact_dup", 2)
    assert dec[8][0] == "near_dup" and dec[8][1] == 3
    assert dec[9] == ("unique", None)
    # intra-batch near-dup: rejected against the smaller batch member,
    # never admitted even though 9 and 10 arrived in the SAME batch
    assert dec[10] == ("near_dup", 9)


def test_streaming_dedup_ingest_artifacts_mode_same_verdicts(spark, tmp_path):
    """artifacts_path mode (corpus bands/hashes read from parquet, never
    re-shingled from text) must produce exactly the plain-mode verdicts,
    and the artifact tables must track the accepted corpus."""
    import time as _time

    from extended_rabitq_spark.streaming.stream_ops import streaming_dedup_ingest

    base3 = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    docs1 = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine ten"),
        (3, base3),
        (6, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    docs2 = [
        (7, "one two three four five six seven eight nine ten"),
        (8, base3.replace("today", "tonight")),
        (9, "completely different content with no overlap at all whatsoever"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id LONG, text STRING"
    spark.createDataFrame(docs1, schema).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    _time.sleep(1.1)
    spark.createDataFrame(docs2, schema).coalesce(1).write.parquet(
        str(src / "b2.parquet")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    corpus_path = str(tmp_path / "corpus")
    art_path = str(tmp_path / "artifacts")
    q = streaming_dedup_ingest(
        stream, corpus_path, str(tmp_path / "dec"), str(tmp_path / "ckpt"),
        artifacts_path=art_path,
    )
    q.awaitTermination(120)
    corpus_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    )
    assert corpus_ids == [1, 2, 3, 9]
    dec = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.parquet(str(tmp_path / "dec")).collect()
    }
    assert dec[6] == ("exact_dup", 1)
    assert dec[7] == ("exact_dup", 2)
    assert dec[8][0] == "near_dup" and dec[8][1] == 3
    # artifacts track the accepted corpus exactly
    h_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{art_path}/content_hashes").collect()
    )
    assert h_ids == [1, 2, 3, 9]
    band_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{art_path}/bands").collect()
    }
    assert band_ids == {1, 2, 3, 9}


def test_streaming_dedup_ingest_restart_no_reprocessing(spark, tmp_path):
    """Restart contract: with an intact checkpoint, re-running the gate
    (same checkpoint dir) processes NOTHING until new files arrive —
    the corpus and decisions sinks don't grow — and a later file is
    then processed exactly once against the grown corpus."""
    import time as _time

    from extended_rabitq_spark.streaming.stream_ops import streaming_dedup_ingest

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id LONG, text STRING"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight nine ten")],
        schema,
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))
    corpus_path = str(tmp_path / "corpus")
    decisions_path = str(tmp_path / "decisions")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*.parquet"))
        )
        q = streaming_dedup_ingest(stream, corpus_path, decisions_path, ckpt)
        q.awaitTermination(120)

    run()
    ids1 = sorted(r["doc_id"] for r in spark.read.parquet(corpus_path).collect())
    n_dec1 = spark.read.parquet(decisions_path).count()
    assert ids1 == [1, 2] and n_dec1 == 2

    # restart with no new input: nothing reprocesses, sinks unchanged
    run()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    ) == [1, 2]
    assert spark.read.parquet(decisions_path).count() == 2

    # new file after restart: processed once, gated against the
    # checkpoint-era corpus (doc 11 dups doc 1; doc 12 is fresh)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(11, "alpha beta gamma delta epsilon zeta eta theta"),
         (12, "entirely novel text with brand new words only here")],
        schema,
    ).coalesce(1).write.parquet(str(src / "b2.parquet"))
    run()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    ) == [1, 2, 12]
    dec = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.parquet(decisions_path).collect()
    }
    assert len(dec) == 4
    assert dec[11] == ("exact_dup", 1)
    assert dec[12] == ("unique", None)


def test_streaming_rate_anomaly_matches_batch(spark, tmp_path):
    """The stateful trailing-median detector over a STREAM of hourly
    counts (three ordered micro-batches) emits exactly the batch
    events_rate_anomaly rows — same medians, same spike flags."""
    import time as _time

    import pyspark.sql.functions as F

    from extended_rabitq_spark.registry import QUERIES
    from extended_rabitq_spark.streaming.state_ops import streaming_rate_anomaly
    from extended_rabitq_spark.tables import load_events

    ev = load_events(spark, SF_SMOKE)
    counts = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .persist()
    )
    hours = sorted(r["hour"] for r in counts.select("hour").distinct().collect())
    cut1, cut2 = hours[len(hours) // 3], hours[2 * len(hours) // 3]
    src = tmp_path / "counts"
    src.mkdir()
    for i, cond in enumerate([
        F.col("hour") <= cut1,
        (F.col("hour") > cut1) & (F.col("hour") <= cut2),
        F.col("hour") > cut2,
    ]):
        counts.where(cond).coalesce(1).write.parquet(str(src / f"b{i}.parquet"))
        _time.sleep(1.1)  # file source orders batches by mod time
    stream = (
        spark.readStream.schema("event_type string, hour timestamp, cnt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    q = (
        streaming_rate_anomaly(stream)
        .writeStream.format("memory")
        .queryName("rate_anom")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r.event_type, r.hour, r.cnt, r.med, r.is_spike)
        for r in spark.sql("SELECT * FROM rate_anom").collect()
    }
    want = {
        (r.event_type, r.hour, r.cnt, r.med, r.is_spike)
        for r in QUERIES["events_rate_anomaly"](spark, SF_SMOKE).collect()
    }
    counts.unpersist()
    assert got == want and len(got) > 0

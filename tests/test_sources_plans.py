"""Tests for S1-S3 vector file IO, plan-property assertions, and the
nprobe sweep harness (W5/A5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from extended_rabitq_spark.plans import inspect
from extended_rabitq_spark.sources import vecs_io

RNG = np.random.default_rng(3)


class TestVecsIO:
    def test_fvecs_roundtrip(self, tmp_path):
        mat = RNG.standard_normal((10, 7)).astype(np.float32)
        p = str(tmp_path / "x.fvecs")
        vecs_io.write_fvecs(p, mat)
        assert (vecs_io.read_fvecs(p) == mat).all()

    def test_ivecs_roundtrip(self, tmp_path):
        mat = RNG.integers(0, 1000, (5, 3)).astype(np.int32)
        p = str(tmp_path / "x.ivecs")
        vecs_io.write_ivecs(p, mat)
        assert (vecs_io.read_ivecs(p) == mat).all()

    def test_fbin_roundtrip(self, tmp_path):
        mat = RNG.standard_normal((6, 4)).astype(np.float32)
        p = str(tmp_path / "x.fbin")
        vecs_io.write_fbin(p, mat)
        assert (vecs_io.read_fbin(p) == mat).all()

    def test_ingest_to_parquet(self, spark, tmp_path):
        mat = RNG.standard_normal((20, 8)).astype(np.float32)
        src = str(tmp_path / "base.fvecs")
        vecs_io.write_fvecs(src, mat)
        df = vecs_io.ingest_file(spark, src, str(tmp_path / "base.parquet"))
        rows = {r["id"]: r["vec"] for r in df.collect()}
        assert len(rows) == 20
        assert np.allclose(rows[3], mat[3], atol=1e-6)

    def test_ingest_dir_contiguous_ids(self, spark, tmp_path):
        a, b = RNG.standard_normal((4, 5)).astype(np.float32), RNG.standard_normal((3, 5)).astype(np.float32)
        vecs_io.write_fvecs(str(tmp_path / "s0.fvecs"), a)
        vecs_io.write_fvecs(str(tmp_path / "s1.fvecs"), b)
        df = vecs_io.ingest_dir(spark, str(tmp_path / "s*.fvecs"), str(tmp_path / "all.parquet"))
        ids = sorted(r["id"] for r in df.collect())
        assert ids == list(range(7))

    def test_ingest_dir_distributed_multi_shard(self, spark, tmp_path):
        """VERDICT r1 #2: conversion runs executor-side — the plan is a
        binaryFile scan into an Arrow MapInPandas with one partition per
        shard (AQE may pack tiny local shards; the pre-AQE plan is the
        scale contract) — and ids/values match the driver-side readers
        exactly."""
        shards = [RNG.standard_normal((n, 6)).astype(np.float32) for n in (5, 9, 3, 7)]
        paths = []
        for i, m in enumerate(shards):
            p = str(tmp_path / f"p{i}.fvecs")
            vecs_io.write_fvecs(p, m)
            paths.append(p)
        conv = vecs_io.convert_shards_df(spark, paths)
        plan = inspect.physical_plan(conv)
        assert "MapInPandas" in plan and "binaryfile" in plan.lower()
        # map-only: no Exchange anywhere in the conversion plan (big
        # shards get their own binaryFile partitions at scale; tiny
        # fixture shards may pack into one task, which is fine)
        assert "Exchange" not in plan
        out = tmp_path / "dist.parquet"
        df = vecs_io.ingest_dir(spark, str(tmp_path / "p*.fvecs"), str(out))
        expect = np.concatenate(shards)
        rows = {r["id"]: np.array(r["vec"], dtype=np.float32) for r in df.collect()}
        assert sorted(rows) == list(range(len(expect)))
        for i in range(len(expect)):
            assert (rows[i] == expect[i]).all(), i

    def test_ingest_dir_fbin_shards(self, spark, tmp_path):
        shards = [RNG.standard_normal((n, 4)).astype(np.float32) for n in (6, 2)]
        for i, m in enumerate(shards):
            vecs_io.write_fbin(str(tmp_path / f"b{i}.fbin"), m)
        df = vecs_io.ingest_dir(spark, str(tmp_path / "b*.fbin"), str(tmp_path / "fb.parquet"))
        expect = np.concatenate(shards)
        rows = {r["id"]: np.array(r["vec"], dtype=np.float32) for r in df.collect()}
        assert len(rows) == len(expect)
        assert all((rows[i] == expect[i]).all() for i in range(len(expect)))

    def test_ingest_dir_rejects_bad_input(self, spark, tmp_path):
        with pytest.raises(ValueError):
            vecs_io.ingest_dir(spark, str(tmp_path / "none*.fvecs"), str(tmp_path / "x.parquet"))
        vecs_io.write_fvecs(str(tmp_path / "m.fvecs"), RNG.standard_normal((2, 3)).astype(np.float32))
        vecs_io.write_fbin(str(tmp_path / "m.fbin"), RNG.standard_normal((2, 3)).astype(np.float32))
        with pytest.raises(ValueError):
            vecs_io.ingest_dir(spark, str(tmp_path / "m.*"), str(tmp_path / "x.parquet"))


class TestPlanProperties:
    """The engine's performance contract, asserted on real plans."""

    def test_knn_exact_broadcasts_and_partial_topk(self, spark):
        from extended_rabitq_spark.registry import QUERIES

        df = QUERIES["knn_exact"](spark, SF_SMOKE)
        assert inspect.has_broadcast_join(df)
        assert not inspect.has_shuffle_join(df)
        assert inspect.has_partial_topk(df)
        assert inspect.python_eval_nodes(df) == []  # pure JVM path

    def test_knn_exact_pushes_filters(self, spark):
        from extended_rabitq_spark.registry import QUERIES

        df = QUERIES["knn_exact"](spark, SF_SMOKE)
        assert inspect.pushed_filters(df), "query/base split must push to parquet scan"

    def test_knn_filtered_semi_join_pushdown(self, spark):
        """Metadata filter must be a broadcast LEFT SEMI join with the
        lang predicate pushed into the documents scan (2-column read)."""
        from extended_rabitq_spark.registry import QUERIES

        df = QUERIES["knn_filtered"](spark, SF_SMOKE)
        plan = inspect.physical_plan(df)
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        assert any("lang" in f for f in inspect.pushed_filters(df))
        assert not inspect.has_shuffle_join(df)

    def test_ivf_search_no_shuffle_join(self, spark):
        from extended_rabitq_spark.registry import QUERIES

        df = QUERIES["knn_ivf"](spark, SF_SMOKE)
        assert inspect.has_broadcast_join(df)
        assert not inspect.has_shuffle_join(df)

    def test_rabitq_query_path_jvm_only(self, spark, tmp_path):
        """After the index is SAVED, the search plan must contain no
        Python nodes except the tiny query-rotation mapInPandas."""
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
        res = rabitq.rabitq_search(queries, codes, cents_full, meta2, nprobe=3, k=10)
        py_nodes = inspect.python_eval_nodes(res)
        assert len(py_nodes) <= 2, py_nodes  # rotation only (NQ rows)
        assert inspect.has_partial_topk(res)

    def test_index_scan_prunes_probed_partitions(self, spark, tmp_path):
        """The saved index is partitioned by cluster_id; a probe filter
        must prune partitions in the scan."""
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        index_df, meta = rabitq.build_index(base, cents, total_bits=4)
        path = str(tmp_path / "idx")
        rabitq.save_index(index_df, cents, meta, path)
        codes, _, _ = rabitq.load_index(spark, path)
        probed = codes.where(F.col("cluster_id").isin([1, 3]))
        plan = inspect.physical_plan(probed)
        assert "PartitionFilters" in plan and "cluster_id" in plan


class TestSweep:
    def test_nprobe_sweep_monotone_recall(self, spark):
        from extended_rabitq_spark.harness import nprobe_sweep
        from extended_rabitq_spark.operators import ivf

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        rows = nprobe_sweep(queries, base, cents, k=10, grid=[1, 3, 10])
        recalls = [r.recall for r in rows]
        assert recalls == sorted(recalls), "recall must not decrease with nprobe"
        assert recalls[-1] > 0.99  # nprobe = K (all clusters) ≡ exact
        assert all(r.qps > 0 for r in rows)

    def test_tune_nprobe_picks_smallest_meeting_target(self, spark):
        """tune_nprobe returns the first grid nprobe whose recall meets
        the target, stops sweeping once met, and falls back to the
        largest executed nprobe for unreachable targets."""
        from extended_rabitq_spark.harness import tune_nprobe
        from extended_rabitq_spark.operators import ivf

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        # modest target: met before the full grid → early stop
        np_sel, rows = tune_nprobe(
            queries, base, cents, target_recall=0.5, k=10,
            grid=[1, 3, 10, 16], mode="ivf",
        )
        chosen = next(r for r in rows if r.nprobe == np_sel)
        assert chosen.recall >= 0.5
        # every EARLIER executed grid point missed the target
        for r in rows:
            if r.nprobe < np_sel:
                assert r.recall < 0.5
        assert len(rows) < 4  # stopped before exhausting the grid
        # unreachable target: sweeps everything, returns the max
        np_all, rows_all = tune_nprobe(
            queries, base, cents, target_recall=1.1, k=10,
            grid=[1, 16], mode="ivf",
        )
        assert np_all == rows_all[-1].nprobe == 16
        assert rows_all[-1].recall <= 1.0

    def test_amortized_sweep_matches_per_point(self, spark):
        """amortized=True (one probe-rank-tagged scored pool) must report
        the SAME recall/ratio per grid point as the per-point sweep —
        only the wall-clock attribution differs."""
        from extended_rabitq_spark.harness import nprobe_sweep
        from extended_rabitq_spark.operators import ivf, rabitq

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        idx, meta = rabitq.build_index(base, cents, total_bits=4)
        idx = idx.persist()
        cf = rabitq.centroids_with_rotation(spark, cents, meta)
        kw = dict(k=10, grid=[2, 4], mode="rabitq", index_df=idx,
                  centroids_full=cf, meta=meta, recall_stop=2.0)
        plain = nprobe_sweep(queries, base, cents, **kw)
        amort = nprobe_sweep(queries, base, cents, amortized=True, **kw)
        assert [r.nprobe for r in plain] == [r.nprobe for r in amort]
        for p, a in zip(plain, amort):
            # identical result rows → identical metrics up to agg-order
            # float noise in the avg
            assert abs(p.recall - a.recall) < 1e-9
            assert abs(p.ratio - a.ratio) < 1e-9
        import pytest as _pytest

        with _pytest.raises(ValueError, match="amortized"):
            nprobe_sweep(queries, base, cents, amortized=True,
                         k=10, grid=[2], mode="ivf")
        idx.unpersist()

    def test_gt_cache_matches_recompute(self, spark):
        """nprobe_sweep(gt=...) — the compute_gt.py/test_search split —
        must report identical recall/ratio to the internal GT path, accept
        a DEEPER cache (rank-filtered down to k), and reject a shallower
        one (which would silently inflate recall)."""
        import pytest as _pytest

        from extended_rabitq_spark.harness import nprobe_sweep
        from extended_rabitq_spark.operators import ivf, knn

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        base = emb.where(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        queries = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        cents = ivf.label_centroids(emb.where(F.col("vec_id") >= 10))
        kw = dict(k=10, grid=[1, 3], mode="ivf", recall_stop=2.0)
        plain = nprobe_sweep(queries, base, cents, **kw)
        deep_gt = knn.exact_knn_combined(queries, base, k=25)
        cached = nprobe_sweep(queries, base, cents, gt=deep_gt, **kw)
        assert [r.nprobe for r in plain] == [r.nprobe for r in cached]
        for p, c in zip(plain, cached):
            assert abs(p.recall - c.recall) < 1e-9
            assert abs(p.ratio - c.ratio) < 1e-9
        shallow = knn.exact_knn_combined(queries, base, k=5)
        with _pytest.raises(ValueError, match="ragged"):
            nprobe_sweep(queries, base, cents, gt=shallow, **kw)
        # ragged cache (ADVICE r8): full depth for most queries but one
        # query missing entirely — a global max(rank) check passes this,
        # the per-query validation must not
        ragged = deep_gt.where(F.col("qid") != 0)
        with _pytest.raises(ValueError, match="ragged"):
            nprobe_sweep(queries, base, cents, gt=ragged, **kw)
        # one query shallower than k, global max still >= k
        ragged2 = deep_gt.where((F.col("qid") != 1) | (F.col("rank") <= 5))
        with _pytest.raises(ValueError, match="ragged"):
            nprobe_sweep(queries, base, cents, gt=ragged2, **kw)

    def test_results_csv_sinks(self, tmp_path):
        """S7: the reference's two committed CSV artifacts —
        results/exrabitq/<ds>_<tag>.csv (header nprobe,QPS,recall,ratio,
        results/exrabitq/openai1536_exhaf4.csv:1) and
        results/indexing_time/<ds>.csv (src/create_index.cpp:21,27)."""
        from extended_rabitq_spark.harness import (
            SweepRow,
            save_indexing_time_csv,
            save_results_csv,
        )

        rows = [
            SweepRow(5, 0.65296, 1.01544, 1237.09, 0.1),
            SweepRow(8, 0.81, 1.004, 900.0, 0.2),
        ]
        p = save_results_csv(rows, str(tmp_path), "openai1536", tag="exhaf4")
        lines = open(p).read().splitlines()
        assert p.endswith("exrabitq/openai1536_exhaf4.csv")
        assert lines[0] == "nprobe,QPS,recall,ratio"
        assert lines[1] == "5,1237.09,0.65296,1.01544"

        t = save_indexing_time_csv(str(tmp_path), "openai1536", 2.5)
        t2 = save_indexing_time_csv(str(tmp_path), "openai1536", 3.0)
        assert t == t2 and t.endswith("indexing_time/openai1536.csv")
        tl = open(t).read().splitlines()
        assert tl[0] == "epoch_sec,indexing_minutes"
        assert len(tl) == 3  # header + two appended builds
        assert tl[1].endswith(",2.5000") and tl[2].endswith(",3.0000")


class TestMultimodalPlans:
    def test_frame_and_chunk_plans_prune_blob(self, spark):
        """Frame sampling and audio chunking are metadata-only: the plan
        must read only (doc_id, n_chars) — no text/blob bytes, no encode()
        node survives column pruning."""
        from extended_rabitq_spark.operators import multimodal
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        for df in (
            multimodal.sample_frames(multimodal.docs_as_video(docs)),
            multimodal.chunk_audio(multimodal.docs_as_audio(docs)),
        ):
            plan = inspect.physical_plan(df)
            assert "encode" not in plan
            rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
            assert rs and all("text" not in ln for ln in rs)


class TestTpchPlans:
    def test_q1_partial_agg_and_pushdown(self, spark):
        """Q1: map-side partial aggregation (two HashAggregate levels)
        and the shipdate filter pushed to the parquet scan."""
        from extended_rabitq_spark.plans import inspect
        from extended_rabitq_spark.queries.tpch import tpch_q1

        plan = inspect.physical_plan(tpch_q1(spark, SF_SMOKE))
        assert plan.count("HashAggregate") >= 2
        assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan.split("PushedFilters")[1][:200]

    def test_q5_broadcasts_dimensions(self, spark):
        """Q5 star join: every dimension side broadcasts; no cartesian
        product or nested loop survives planning."""
        from extended_rabitq_spark.plans import inspect
        from extended_rabitq_spark.queries.tpch import tpch_q5

        plan = inspect.physical_plan(tpch_q5(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 4
        assert "CartesianProduct" not in plan

    def test_q21_non_equi_semi_anti_stay_hash_joins(self, spark):
        """Q21's EXISTS/NOT EXISTS pair has a non-equi conjunct
        (other-supplier).  The planner must keep the ORDERKEY equi-key
        as the join key (hash join with the <> as a residual condition)
        — if the equi-key is ever lost, these degrade to nested-loop
        joins over lineitem², which would never finish at scale."""
        from extended_rabitq_spark.plans import inspect
        from extended_rabitq_spark.queries.tpch import tpch_q21

        plan = inspect.physical_plan(tpch_q21(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "LeftSemi" in plan and "LeftAnti" in plan

    def test_q2_min_cost_join_and_broadcast_dims(self, spark):
        """Q2: the decorrelated min-cost subquery joins back on
        (partkey, cost) — an equi-join (hash or sort-merge), never a
        nested loop; region/nation dims broadcast."""
        from extended_rabitq_spark.plans import inspect
        from extended_rabitq_spark.queries.tpch import tpch_q2

        plan = inspect.physical_plan(tpch_q2(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2

    def test_q20_integer_threshold_semi_join(self, spark):
        """Q20: the excess-stock filter feeds a LEFT SEMI join; the
        quantity comparison stays integer (no doubles in the plan's
        threshold predicate)."""
        from extended_rabitq_spark.plans import inspect
        from extended_rabitq_spark.queries.tpch import tpch_q20

        plan = inspect.physical_plan(tpch_q20(spark, SF_SMOKE))
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan


class TestIndexLifecycle:
    def test_full_lifecycle_end_to_end(self, spark, tmp_path):
        """The whole index lifecycle in one chain: fvecs ingest →
        build → save → append (two increments) → compact → search —
        results identical before/after compaction, and every streamed
        increment findable."""
        from extended_rabitq_spark.operators import ivf, rabitq
        from extended_rabitq_spark.sources import vecs_io

        rng = np.random.default_rng(9)
        mat = rng.standard_normal((60, 8)).astype(np.float32)
        src = str(tmp_path / "base.fvecs")
        vecs_io.write_fvecs(src, mat)
        base = vecs_io.ingest_file(spark, src, str(tmp_path / "base.parquet"))
        cents = ivf.sampled_kmeans_centroids(base, k=4, vec="vec")
        index_df, meta = rabitq.build_index(base, cents, total_bits=4)
        path = str(tmp_path / "idx")
        rabitq.save_index(index_df, cents, meta, path)

        for inc in range(2):
            newv = spark.createDataFrame(
                [(1000 + inc * 10 + j, [float(x) for x in rng.standard_normal(8)])
                 for j in range(5)],
                "id long, vec array<float>",
            )
            rabitq.append_to_index(newv, path)

        codes, cents_full, meta2 = rabitq.load_index(spark, path)
        assert codes.count() == 70
        qs = base.limit(3).select(
            F.col("id").alias("qid"), F.col("vec").alias("qvec")
        )
        before = sorted(
            (r.qid, r.rank, r.id)
            for r in rabitq.rabitq_search(
                qs, codes, cents_full, meta2, nprobe=4, k=5
            ).collect()
        )
        rabitq.compact_index(spark, path)
        codes2, cents_full2, meta3 = rabitq.load_index(spark, path)
        after = sorted(
            (r.qid, r.rank, r.id)
            for r in rabitq.rabitq_search(
                qs, codes2, cents_full2, meta3, nprobe=4, k=5
            ).collect()
        )
        assert before == after and len(before) == 15
        # one file per cluster partition after compaction
        import glob
        for d in glob.glob(f"{path}/codes/cluster_id=*"):
            files = [f for f in glob.glob(f"{d}/*") if f.endswith(".parquet")]
            assert len(files) == 1, d


def test_ingest_handles_spaces_and_glob_chars_in_names(spark, tmp_path):
    """binaryFile reports URIs (percent-encoded): shard names with
    spaces must still map to their id offsets; ingest_file treats its
    path literally (no glob interpretation)."""
    from extended_rabitq_spark.sources import vecs_io

    a = RNG.standard_normal((4, 3)).astype(np.float32)
    b = RNG.standard_normal((2, 3)).astype(np.float32)
    p1 = str(tmp_path / "my shard 0.fvecs")
    p2 = str(tmp_path / "my shard 1.fvecs")
    vecs_io.write_fvecs(p1, a)
    vecs_io.write_fvecs(p2, b)
    df = vecs_io.convert_shards_df(spark, [p1, p2])
    rows = {r["id"]: np.array(r["vec"], dtype=np.float32) for r in df.collect()}
    expect = np.concatenate([a, b])
    assert sorted(rows) == list(range(6))
    assert all((rows[i] == expect[i]).all() for i in range(6))

    lit = str(tmp_path / "v[1].fvecs")
    vecs_io.write_fvecs(lit, a)
    out = vecs_io.ingest_file(spark, lit, str(tmp_path / "lit.parquet"))
    assert out.count() == 4


class TestRound4QueryPlans:
    def test_token_pmi_parallel_topn_and_pruning(self, spark):
        """PMI collocations: global top-N must be TakeOrderedAndProject
        (parallel partials), and the documents scan must read ONLY the
        text column (column pruning through tokenize/explode).  Plan is
        inspected with checkpoint=False — the production default stages
        the token table behind a localCheckpoint, which hides the scan
        from the final plan."""
        from extended_rabitq_spark.operators import textops
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        plan = inspect.physical_plan(textops.token_pmi(docs, checkpoint=False))
        assert "TakeOrderedAndProject" in plan
        rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert rs and all("doc_id" not in ln and "lang" not in ln for ln in rs)
        # the registered (checkpointed) form stages the token table once
        plan_ck = inspect.physical_plan(
            textops.token_pmi(docs, checkpoint=True)
        )
        assert "ExistingRDD" in plan_ck

    def test_events_retention_partial_aggs(self, spark):
        """Cohort retention: both aggregations keep map-side partials
        (HashAggregate pairs), no nested-loop join."""
        from extended_rabitq_spark.plans import inspect
        from extended_rabitq_spark.queries.events import events_retention_q

        plan = inspect.physical_plan(events_retention_q(spark, SF_SMOKE))
        assert plan.count("HashAggregate") >= 4
        assert "NestedLoop" not in plan

    def test_salted_join_spreads_salt_key(self, spark):
        """The salted cohort join must key its join on (user_id, _salt)
        — the whole point — and end in one partial-agg pair."""
        from extended_rabitq_spark.plans import inspect
        from extended_rabitq_spark.queries.events import (
            events_salted_cohort_join_q,
        )

        plan = inspect.physical_plan(events_salted_cohort_join_q(spark, SF_SMOKE))
        assert "_salt" in plan
        assert "pmod" in plan


class TestCleanopsPlans:
    def test_doc_chunks_is_map_only(self, spark):
        """Chunking must be a pure explode — zero Exchange, and the
        documents scan reads only (doc_id, text)."""
        from extended_rabitq_spark.operators import cleanops
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        plan = inspect.physical_plan(cleanops.doc_chunks(docs))
        assert "Exchange" not in plan
        rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert rs and all("lang" not in ln and "source" not in ln for ln in rs)

    def test_gopher_filter_is_map_only(self, spark):
        from extended_rabitq_spark.operators import cleanops
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        plan = inspect.physical_plan(cleanops.gopher_filter(docs))
        assert "Exchange" not in plan

    def test_segment_dedup_shuffles_only_on_hash_and_doc(self, spark):
        """dedup_lines: the only shuffles are the seg-hash count, the
        join back, and the doc reassembly — partial aggs everywhere, no
        nested-loop join."""
        from extended_rabitq_spark.operators import cleanops
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        df = cleanops.segment_dedup(docs)
        assert "NestedLoop" not in inspect.physical_plan(df)
        assert inspect.exchange_count(df) <= 4

    def test_jaccard_prefix_no_nested_loop_and_bounded_shuffles(self, spark):
        """jaccard_prefix_pairs: pure equi-join pipeline — no nested-loop
        node anywhere, and the post-checkpoint phase (candidate join +
        verify) stays within its shuffle budget.  The two localCheckpoint
        barriers split the plan; this asserts the FINAL segment, which is
        the part that scales with candidate volume."""
        from extended_rabitq_spark.operators import dedup
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        df = dedup.jaccard_prefix_pairs(docs, threshold=0.6)
        plan = inspect.physical_plan(df)
        assert "NestedLoop" not in plan
        # verify segment: semi-join to candidate docs (broadcast), the
        # a/b intersection joins, the count agg, two size joins — every
        # join keyed, shuffles bounded
        assert inspect.exchange_count(df) <= 8

    def test_shard_export_sorts_per_shard_not_globally(self, spark):
        """Rank windows must partition by shard (parallel sorts), never
        a single global sort."""
        from extended_rabitq_spark.operators import cleanops
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        plan = inspect.physical_plan(cleanops.shard_export(docs))
        assert "hashpartitioning(shard" in plan
        assert "rangepartitioning" not in plan

    def test_tfidf_broadcasts_totals_and_keeps_partials(self, spark):
        from extended_rabitq_spark.operators import cleanops
        from extended_rabitq_spark.plans import inspect

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        df = cleanops.tfidf_terms(docs)
        plan = inspect.physical_plan(df)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert plan.count("HashAggregate") >= 4


class TestIndexMaintenance:
    def _skewed_index(self, spark, tmp_path, n_hot=40, n_cold=8):
        """Index with one deliberately hot cluster: a tight blob of
        n_hot vectors plus n_cold spread singletons, K=4."""
        from extended_rabitq_spark.operators import ivf, rabitq

        rng = np.random.default_rng(7)
        hot = rng.standard_normal((n_hot, 8)) * 0.05 + np.array([5.0] * 8)
        cold = rng.standard_normal((n_cold, 8)) * 3.0 - 4.0
        rows = [
            (i, [float(x) for x in v]) for i, v in enumerate(np.vstack([hot, cold]))
        ]
        base = spark.createDataFrame(rows, "id long, vec array<float>")
        cents = ivf.sampled_kmeans_centroids(base, k=4, vec="vec")
        index_df, meta = rabitq.build_index(base, cents, total_bits=4)
        path = str(tmp_path / "idx")
        rabitq.save_index(index_df, cents, meta, path)
        return base, path

    @staticmethod
    def _partition_mtimes(path):
        import glob
        import os

        return {
            d: os.path.getmtime(d) for d in glob.glob(f"{path}/codes/cluster_id=*")
        }

    @staticmethod
    def _assert_untouched(mtimes_before, rewritten):
        """Partitions outside ``rewritten`` keep their directory mtime."""
        import os

        for d, t in mtimes_before.items():
            if int(d.split("=")[1]) not in rewritten:
                assert os.path.getmtime(d) == t, d

    @staticmethod
    def _assert_no_staging(path):
        """A maintenance rewrite leaves nothing beside the index artifacts."""
        import os

        assert sorted(os.listdir(path)) == ["centroids", "codes", "meta.json"]

    def _full_probe_results(self, spark, path, base, k=5):
        from extended_rabitq_spark.operators import rabitq

        codes, cents_full, meta = rabitq.load_index(spark, path)
        nclusters = cents_full.count()
        qs = base.orderBy("id").limit(5).select(
            F.col("id").alias("qid"), F.col("vec").alias("qvec")
        )
        res = rabitq.rabitq_search(
            qs, codes, cents_full, meta, nprobe=nclusters, k=k, rerank_base=base
        )
        return sorted((r.qid, r.rank, r.id) for r in res.collect())

    def test_delete_rewrites_only_affected_partitions(self, spark, tmp_path):
        from extended_rabitq_spark.operators import rabitq

        base, path = self._skewed_index(spark, tmp_path)
        before = self._full_probe_results(spark, path, base, k=5)
        # Delete ids that are NOT among any query's top-5 so the
        # remaining full-probe results must be bitwise unchanged.
        hit_ids = {t[2] for t in before}
        victims = [i for i in range(48) if i not in hit_ids][:6]
        codes0 = spark.read.parquet(f"{path}/codes")
        mtimes_before = self._partition_mtimes(path)
        victims_df = spark.createDataFrame([(v,) for v in victims], "id long")
        affected = {
            int(r["cluster_id"])
            for r in codes0.join(victims_df, "id", "left_semi")
            .select("cluster_id").distinct().collect()
        }
        n = rabitq.delete_from_index(spark, path, victims_df)
        assert n == len(victims)
        codes1 = spark.read.parquet(f"{path}/codes")
        assert codes1.count() == 48 - len(victims)
        assert codes1.join(victims_df, "id", "left_semi").count() == 0
        # untouched partitions were not rewritten
        self._assert_untouched(mtimes_before, affected)
        self._assert_no_staging(path)
        after = self._full_probe_results(spark, path, base, k=5)
        assert before == after

    def test_delete_all_rows_of_a_cluster_drops_partition(self, spark, tmp_path):
        from extended_rabitq_spark.operators import rabitq

        base, path = self._skewed_index(spark, tmp_path)
        codes = spark.read.parquet(f"{path}/codes")
        sizes = {
            int(r["cluster_id"]): int(r["n"])
            for r in codes.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
        }
        cid = min(sizes, key=sizes.get)
        members = [
            int(r["id"]) for r in codes.where(F.col("cluster_id") == cid).collect()
        ]
        n = rabitq.delete_from_index(
            spark, path, spark.createDataFrame([(v,) for v in members], "id long")
        )
        assert n == len(members)
        import os
        assert not os.path.isdir(f"{path}/codes/cluster_id={cid}")
        left = spark.read.parquet(f"{path}/codes")
        assert left.count() == 48 - len(members)

    def test_rebalance_splits_hot_cluster_preserving_full_probe_results(
        self, spark, tmp_path
    ):
        from extended_rabitq_spark.operators import rabitq

        base, path = self._skewed_index(spark, tmp_path)
        codes = spark.read.parquet(f"{path}/codes")
        stats0 = rabitq.index_stats(codes).collect()[0]
        before = self._full_probe_results(spark, path, base, k=5)
        mtimes_before = self._partition_mtimes(path)
        out = rabitq.rebalance_index(spark, path, base, max_ratio=2.0)
        assert out["split"], "fixture must produce a hot cluster"
        assert out["new_ids"] and out["rows_moved"] > 0
        # cold partitions are untouched
        assert set(mtimes_before) - {
            f"{path}/codes/cluster_id={c}" for c in out["split"]
        }, "fixture must keep a cold partition"
        self._assert_untouched(mtimes_before, out["split"])
        self._assert_no_staging(path)
        codes1 = spark.read.parquet(f"{path}/codes")
        # no rows lost, every code row's cluster exists in the centroids
        assert codes1.count() == 48
        cents1 = spark.read.parquet(f"{path}/centroids")
        dangling = (
            codes1.select("cluster_id").distinct()
            .join(cents1.select("cluster_id"), "cluster_id", "left_anti")
            .count()
        )
        assert dangling == 0
        stats1 = rabitq.index_stats(codes1).collect()[0]
        assert stats1["n_clusters"] == stats0["n_clusters"] + len(out["new_ids"])
        # the straggler halves; imbalance_r can stay flat since avg
        # drops too (max/avg both shrink) — max_cluster is the claim
        assert stats1["max_cluster"] < stats0["max_cluster"]
        # full-probe search results are bitwise identical (per-vector
        # codes depend only on the vector's own centroid; rerank exact)
        after = self._full_probe_results(spark, path, base, k=5)
        assert before == after

    def test_rebalance_noop_when_balanced(self, spark, tmp_path):
        from extended_rabitq_spark.operators import ivf, rabitq

        rng = np.random.default_rng(3)
        rows = [
            (i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)
        ]
        base = spark.createDataFrame(rows, "id long, vec array<float>")
        cents = ivf.sampled_kmeans_centroids(base, k=4, vec="vec")
        index_df, meta = rabitq.build_index(base, cents, total_bits=4)
        path = str(tmp_path / "idx2")
        rabitq.save_index(index_df, cents, meta, path)
        out = rabitq.rebalance_index(spark, path, base, max_ratio=10.0)
        assert out == {"split": [], "new_ids": [], "rows_moved": 0}

    def test_delete_every_row_leaves_readable_empty_index(self, spark, tmp_path):
        from extended_rabitq_spark.operators import rabitq

        base, path = self._skewed_index(spark, tmp_path)
        all_ids = spark.createDataFrame([(i,) for i in range(48)], "id long")
        n = rabitq.delete_from_index(spark, path, all_ids)
        assert n == 48
        left = spark.read.parquet(f"{path}/codes")  # must not raise
        assert left.count() == 0
        assert "cluster_id" in left.columns and "id" in left.columns
        self._assert_no_staging(path)
        # compacting the emptied index keeps it loadable
        rabitq.compact_index(spark, path)
        self._assert_no_staging(path)
        codes, _, _ = rabitq.load_index(spark, path)  # must not raise
        assert codes.count() == 0
        assert "cluster_id" in codes.columns and "id" in codes.columns
        # rows come back: the schema-only root file goes (Hadoop's hidden
        # .crc checksums aside, only partitions and _SUCCESS are left)
        import os

        rabitq.append_to_index(base.where(F.col("id") < 5), path)
        rabitq.compact_index(spark, path)
        self._assert_no_staging(path)
        names = [n for n in os.listdir(f"{path}/codes") if not n.startswith(".")]
        assert names and all(
            n == "_SUCCESS" or n.startswith("cluster_id=") for n in names
        ), names
        codes, _, _ = rabitq.load_index(spark, path)
        assert sorted(r.id for r in codes.select("id").collect()) == list(range(5))

    def test_packed_index_is_refused_with_a_named_error(self, spark, tmp_path):
        """An index saved with bit-packed codes (``"packed": true`` in
        meta.json, a retired layout) fails at every entry point with a
        ValueError that says to rebuild, not inside a search worker."""
        import json
        import os

        from extended_rabitq_spark.operators import rabitq

        path = str(tmp_path / "packed_idx")
        os.makedirs(path)
        with open(f"{path}/meta.json", "w") as f:
            json.dump({"dim": 8, "D": 64, "total_bits": 4, "seed": 42,
                       "metric": "l2", "packed": True}, f)
        vecs = spark.createDataFrame([(0, [0.0] * 8)], "id long, vec array<float>")
        qs = vecs.select(F.col("id").alias("qid"), F.col("vec").alias("qvec"))
        for call in (
            lambda: rabitq.load_index(spark, path),
            lambda: rabitq.append_to_index(vecs, path),
            lambda: rabitq.rebalance_index(spark, path, vecs),
            lambda: rabitq.search_index(spark, path, qs),
        ):
            with pytest.raises(ValueError, match="rebuild the index"):
                call()

    def test_rebalance_rejects_stale_base(self, spark, tmp_path):
        import pytest as _pytest

        from extended_rabitq_spark.operators import rabitq

        base, path = self._skewed_index(spark, tmp_path)
        stale = base.where("id >= 46")  # misses the hot cluster's vectors
        with _pytest.raises(ValueError, match="covers < 2 vectors"):
            rabitq.rebalance_index(spark, path, stale, max_ratio=2.0)


class TestBvecs:
    def test_bvecs_roundtrip_and_ingest(self, spark, tmp_path):
        """.bvecs (uint8 SIFT1B-family format): write/read round-trip is
        exact, and the distributed ingest produces the same rows with
        contiguous global ids across shards."""
        import numpy as np

        from extended_rabitq_spark.sources import vecs_io

        rng = np.random.default_rng(21)
        m1 = rng.integers(0, 256, (30, 16), dtype=np.uint8)
        m2 = rng.integers(0, 256, (20, 16), dtype=np.uint8)
        p1, p2 = str(tmp_path / "s1.bvecs"), str(tmp_path / "s2.bvecs")
        vecs_io.write_bvecs(p1, m1)
        vecs_io.write_bvecs(p2, m2)
        np.testing.assert_array_equal(vecs_io.read_bvecs(p1), m1.astype(np.int32))
        # driver-side header math sees the right row counts
        assert vecs_io._shard_rows(p1) == 30 and vecs_io._shard_rows(p2) == 20
        out = str(tmp_path / "out.parquet")
        df = vecs_io.ingest_dir(spark, str(tmp_path / "*.bvecs"), out)
        got = {r["id"]: list(r["vec"]) for r in df.collect()}
        assert len(got) == 50
        exp = np.vstack([m1, m2]).astype(np.int32)
        for i in range(50):
            assert got[i] == list(exp[i])
        # int semantics, like ivecs
        assert dict(df.dtypes)["vec"] == "array<int>"

"""The benchmark's own tests: the oracle on hand-built cases, the response
checks, and a tiny-size smoke run of every workload, traced and not.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from perfbench import run as bench_run
from perfbench import tracing
from perfbench.data import (
    CORPUS, QUERIES, Mixture, check_response, exact_topk, group_rows, recall_at_k, stream,
)
from perfbench.workloads import WORKLOADS, Sizes

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))

TINY = Sizes(corpus=3_000, lists=16, batch_queries=64, serve_pool=96, serve_warm=32,
             ingest_base=2_000, ingest_lists=16, ingest_append=200, ingest_queries=24,
             ingest_self=4, setups=1)


def test_exact_topk_orders_by_distance_then_id():
    # ids 12 and 11 tie at distance 1; the lower id ranks first even
    # though it comes later in the corpus
    corpus = np.array([[0, 0], [-1, 0], [1, 0], [0, 2], [3, 0]], np.float32)
    ids = np.array([10, 12, 11, 13, 14])
    top, dist = exact_topk(np.array([[0, 0]], np.float32), corpus, ids, 4)
    assert top.tolist() == [[10, 11, 12, 13]]
    assert dist.tolist() == [[0.0, 1.0, 1.0, 4.0]]


def test_exact_topk_matches_full_sort():
    rng = np.random.default_rng(0)
    x, q = rng.standard_normal((500, 8)), rng.standard_normal((7, 8))
    top, dist = exact_topk(q, x, np.arange(500), 10, block=3)
    full = ((q[:, None, :] - x[None]) ** 2).sum(-1)
    assert np.array_equal(top, np.argsort(full, axis=1, kind="stable")[:, :10])
    assert np.allclose(dist, np.sort(full, axis=1)[:, :10])


def _table(rows):
    qid, rank, rid, est = zip(*rows)
    return pa.table({"qid": list(qid), "rank": list(rank), "id": list(rid),
                     "est_dist": list(est)})


def test_check_response_flags_each_defect():
    vectors = np.array([[0, 0], [1, 0], [0, 2], [3, 0]], np.float32)
    queries = {7: np.array([0, 0], np.float32)}
    good = [(7, 1, 0, 0.0), (7, 2, 1, 1.0), (7, 3, 2, 4.0)]

    def problems(rows, deleted=frozenset()):
        return check_response(group_rows(_table(rows)), queries, vectors, 3, deleted)

    assert problems(good) == []
    assert problems(list(reversed(good))) == []  # rows arrive in any order
    assert problems(good[:2])                                     # too few rows
    assert problems([(7, 1, 0, 0.0), (7, 2, 1, 1.0), (7, 4, 2, 4.0)])  # rank gap
    assert problems([(7, 1, 0, 0.0), (7, 2, 1, 1.0), (7, 3, 1, 1.0)])  # duplicate id
    assert problems([(7, 1, 0, 0.0), (7, 2, 2, 4.0), (7, 3, 1, 1.0)])  # decreasing
    assert problems([(7, 1, 0, 0.0), (7, 2, 1, 1.0), (7, 3, 2, 4.001)])  # not exact
    assert problems(good, deleted=frozenset({2}))                 # deleted id
    assert problems(good + [(8, 1, 0, 0.0)])                      # qid not asked
    assert problems([(7, 1, 0, 0.0), (7, 2, 1, 1.0), (7, 3, 9, 4.0)])  # unknown id


def test_recall_counts_overlap():
    found = {1: np.array([1, 2, 3]), 2: np.array([4, 5, 6])}
    truth = {1: np.array([3, 2, 9]), 2: np.array([7, 8, 9])}
    assert recall_at_k(found, truth) == (2, 6)


def test_inputs_are_seeded_and_queries_held_out():
    mix = Mixture()
    a = mix.sample(stream(5, CORPUS), 100)
    assert np.array_equal(a, Mixture().sample(stream(5, CORPUS), 100))
    assert not np.array_equal(a, mix.sample(stream(6, CORPUS), 100))
    q = mix.sample(stream(5, QUERIES), 100)
    assert not (q[:, None, :] == a[None]).all(-1).any()


class _GroupLog:
    """Stands in for a SparkContext: records the job groups set on it."""

    def __init__(self) -> None:
        self.groups: list[str] = []

    def setJobGroup(self, group: str, description: str) -> None:
        self.groups.append(group)


def test_paused_block_leaves_the_request(monkeypatch):
    monkeypatch.setattr(tracing, "spark_counters", lambda sc, group: {})
    sc = _GroupLog()
    tracer = tracing.Tracer(sc, True)
    with tracer.request("r1"):
        with tracer.paused(True), tracer.span("hidden"):
            pass
        with tracer.span("seen"):
            pass
    assert sc.groups == ["r1", "idle", "r1", "idle"]
    assert [s["name"] for s in tracer.spans] == ["request", "seen"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("perfbench"))
    session = bench_run.start_spark(workdir, 2)
    yield session, workdir
    bench_run.stop_spark(session)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run(spark, workload, trace):
    session, workdir = spark
    result, detail = bench_run.run(session, workload, 3, 0.0, bool(trace), TINY,
                                   os.path.join(workdir, f"{workload}{trace}"), 2)
    assert result["correct"], detail["problems"]
    assert result["failed"] == 0 and result["attempted"] >= 2
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["spark.jobs"]["value"] > 0
        assert detail["self_ms"]["request"]["count"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ann_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout

"""Regression guards on the committed results/ CSV artifacts (VERDICT r9
item 8): the estimator pipeline is deterministic, so the recall/ratio
columns of the committed sweeps are BIT-STABLE properties of the code.
An estimator-touching change that shifts them must fail here — not wait
for the next 1M soak re-run to notice.

Two layers:
  * the committed 1M artifact's quality columns are pinned verbatim
    (QPS columns are host-dependent and deliberately NOT pinned);
  * the sf0.1 points at nprobe=3 and nprobe=5 are RE-DERIVED end to end
    (seeded build → search → recall/ratio vs exact GT) and compared to
    the committed ``results/exrabitq/sf0.1_exhaf4.csv`` rows.
"""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read_csv(path):
    with open(path, newline="") as fh:
        return {int(r["nprobe"]): r for r in csv.DictReader(fh)}


def test_committed_1m_sweep_quality_columns_pinned():
    """The rounds=7 synth1536 sweep (NOTES milestone 57): recall/ratio
    were bit-identical across three independent sweeps — pin them so a
    drifted re-commit is an acknowledged estimator change, not an
    accident."""
    rows = _read_csv(f"{REPO}/results/exrabitq/synth1536_exhaf4.csv")
    want = {
        1: ("0.53936", "1.07410"),
        2: ("0.66960", "1.03811"),
        3: ("0.72691", "1.02697"),
        5: ("0.78269", "1.01813"),
        8: ("0.82721", "1.01257"),
        12: ("0.86280", "1.00895"),
        16: ("0.88784", "1.00664"),
    }
    assert set(rows) == set(want)
    for np_, (rec, ratio) in want.items():
        assert rows[np_]["recall"] == rec, f"np{np_} recall drifted"
        assert rows[np_]["ratio"] == ratio, f"np{np_} ratio drifted"


def test_committed_1m_adaptive_quality_columns_pinned():
    """Same guard for the adaptive-escalation 1M artifact: the recall
    columns (and the vacuous escalated_frac=1.0 boundary result) are
    deterministic; QPS columns are not pinned."""
    with open(f"{REPO}/results/exrabitq/synth1536_adaptive.csv",
              newline="") as fh:
        recs = list(csv.DictReader(fh))
    by_pair = {(int(r["nprobe_lo"]), int(r["nprobe_hi"])): r for r in recs}
    assert by_pair[(3, 16)]["recall_adaptive"] == "0.88784"
    assert by_pair[(3, 16)]["recall_hi"] == "0.88784"
    assert by_pair[(5, 16)]["recall_lo"] == "0.78269"
    for r in recs:
        assert float(r["escalated_frac"]) == 1.0  # the isotropic boundary


@pytest.fixture(scope="module")
def sf01_sweep_points(spark):
    """Re-derive the sf0.1 nprobe∈{3,5} points exactly the way the
    committed CSV was produced (bench.py SPARK_GRAFT_SWEEP path →
    harness.nprobe_sweep over rabitq_search, defaults): seeded
    label_centroids → build_index(B=4) → 500-query batch."""
    from extended_rabitq_spark import harness
    from extended_rabitq_spark.operators import ivf, rabitq
    from extended_rabitq_spark.tables import NQ

    sf_dir = "/root/testdata/sf0.1"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") >= NQ).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    cents = ivf.label_centroids(emb.where(F.col("vec_id") >= NQ))
    index_df, meta = rabitq.build_index(base, cents, total_bits=4)
    index_df = index_df.persist()
    index_df.count()
    queries = (emb.where(F.col("vec_id") >= NQ).limit(500)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")).cache())
    cents_full = rabitq.centroids_with_rotation(spark, cents, meta)
    rows = harness.nprobe_sweep(
        queries, base,
        lambda np_: rabitq.rabitq_search(queries, index_df, cents_full, meta,
                                         nprobe=np_, k=10),
        k=10, grid=[3, 5],
    )
    index_df.unpersist()
    return {r.nprobe: (r.recall, r.ratio) for r in rows}


def test_sf01_recall_ratio_rederived_matches_committed(sf01_sweep_points):
    committed = _read_csv(f"{REPO}/results/exrabitq/sf0.1_exhaf4.csv")
    for np_ in (3, 5):
        rec, ratio = sf01_sweep_points[np_]
        assert f"{rec:.5f}" == committed[np_]["recall"], (
            f"np{np_}: derived recall {rec:.5f} != committed "
            f"{committed[np_]['recall']} — estimator change? re-run the "
            f"sweeps and re-commit the artifacts deliberately")
        assert f"{ratio:.5f}" == committed[np_]["ratio"], (
            f"np{np_}: derived ratio {ratio:.5f} != committed "
            f"{committed[np_]['ratio']}")

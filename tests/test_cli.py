"""CLI lifecycle test: the drop-in analogs of the reference's
create_index / test_search executables plus the maintenance verbs,
driven through cli.main() (argparse path included)."""

from __future__ import annotations

import numpy as np
import pytest

from extended_rabitq_spark import cli
from extended_rabitq_spark.sources import vecs_io


def test_cli_full_lifecycle(spark, tmp_path, capsys):
    rng = np.random.default_rng(5)
    mat = rng.standard_normal((80, 8)).astype(np.float32)
    src = str(tmp_path / "base.fvecs")
    vecs_io.write_fvecs(src, mat)
    base_pq = str(tmp_path / "base.parquet")
    idx = str(tmp_path / "idx")

    assert cli.main(["ingest", src, base_pq]) == 0
    assert "ingested 80 vectors" in capsys.readouterr().out

    assert cli.main(
        ["create-index", base_pq, idx, "--k", "4", "--b", "4", "--graph"]
    ) == 0
    assert "index built: 80 vectors" in capsys.readouterr().out
    # --graph persisted the W2 artifact next to codes/centroids
    assert (tmp_path / "idx" / "graph").exists()

    # queries: first 5 base vectors round-tripped through parquet
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 5").write.parquet(q_pq)
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5", "--grid", "2,4",
        "--results-dir", str(tmp_path / "res"), "--dataset", "smoke",
    ]) == 0
    out = capsys.readouterr().out
    assert out.startswith("nprobe,QPS,recall,ratio")
    assert len(out.strip().splitlines()) == 3  # header + 2 grid rows
    csv = (tmp_path / "res" / "exrabitq" / "smoke_exhaf4.csv").read_text()
    assert csv.splitlines()[0] == "nprobe,QPS,recall,ratio"
    # quantized sweep at full probes: high recall, near-1 ratio (the
    # engine is approximate by design — the reference's own anchor is
    # recall 0.653 at nprobe 5/4096)
    # (no strict monotonicity at this toy scale: the rank cut keeps a
    # FIXED gamma*k estimate slots, so extra probed clusters can crowd
    # out a true neighbor - SURVEY 4.2.2's documented delta vs the
    # reference's sequential threshold)
    r2, r4 = [ln.split(",") for ln in csv.strip().splitlines()[1:]]
    assert float(r2[2]) >= 0.7 and float(r4[2]) >= 0.7
    assert float(r4[3]) < 1.05

    # graph-probed sweep (the reference's HNSW initializer path): at
    # fixture K=4 the beam is exhaustive, so recall matches exact probes
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5", "--grid", "4",
        "--use-graph",
    ]) == 0
    out = capsys.readouterr().out
    row = out.strip().splitlines()[-1].split(",")
    assert float(row[2]) >= 0.7 and float(row[3]) < 1.05

    assert cli.main(["stats", idx]) == 0
    assert "n_clusters: 4" in capsys.readouterr().out

    assert cli.main(["delete", idx, "--ids", "70,71,9999"]) == 0
    assert "deleted 2 of 3" in capsys.readouterr().out

    assert cli.main(["compact", idx]) == 0
    capsys.readouterr()
    assert cli.main(["rebalance", idx, base_pq, "--max-ratio", "1.5"]) == 0
    capsys.readouterr()
    # index still serves correctly end-to-end after the maintenance chain
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5", "--grid", "99",
    ]) == 0
    out = capsys.readouterr().out
    row = out.strip().splitlines()[-1].split(",")
    assert float(row[2]) >= 0.7 and float(row[3]) < 1.05


def test_cli_search_amortized_matches_per_point(spark, tmp_path, capsys):
    """--amortized hands the harness one scored sweep pool: the recall
    and ratio columns equal the per-point sweep's, the CLI unpersists
    the pool when the sweep is done, and --use-graph (graph probes carry
    no probe ranks) is refused."""
    rng = np.random.default_rng(5)
    mat = rng.standard_normal((80, 8)).astype(np.float32)
    src = str(tmp_path / "base.fvecs")
    vecs_io.write_fvecs(src, mat)
    base_pq = str(tmp_path / "base.parquet")
    idx = str(tmp_path / "idx")
    assert cli.main(["ingest", src, base_pq]) == 0
    assert cli.main(["create-index", base_pq, idx, "--k", "4", "--b", "4"]) == 0
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 5").write.parquet(q_pq)
    search = ["search", idx, q_pq, "--base", base_pq, "--k", "5", "--grid", "2,4"]

    def recall_ratio(extra):
        capsys.readouterr()
        assert cli.main(search + extra) == 0
        lines = capsys.readouterr().out.strip().splitlines()
        assert lines[0] == "nprobe,QPS,recall,ratio"
        return [(np_, rec, rat) for np_, _qps, rec, rat in
                (ln.split(",") for ln in lines[1:])]

    per_point = recall_ratio([])
    assert [r[0] for r in per_point] == ["2", "4"]
    n_persistent = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert recall_ratio(["--amortized"]) == per_point
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == n_persistent
    with pytest.raises(SystemExit, match="incompatible with --use-graph"):
        cli.main(search + ["--amortized", "--use-graph"])


def test_cli_clean_corpus(tmp_path, capsys, spark):
    from conftest import SF_SMOKE

    out = str(tmp_path / "clean.parquet")
    assert cli.main(["clean-corpus", SF_SMOKE, out]) == 0
    msg = capsys.readouterr().out
    assert "surviving docs" in msg
    survivors = spark.read.parquet(out)
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert 0 < survivors.count() <= n_docs


def test_cli_search_target_recall(spark, tmp_path, capsys):
    """--target-recall runs the auto-tuner and reports the chosen nprobe."""
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((60, 8)).astype(np.float32)
    src = str(tmp_path / "b.fvecs")
    vecs_io.write_fvecs(src, mat)
    base_pq = str(tmp_path / "b.parquet")
    idx = str(tmp_path / "i")
    assert cli.main(["ingest", src, base_pq]) == 0
    assert cli.main(["create-index", base_pq, idx, "--k", "4", "--b", "4"]) == 0
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 5").write.parquet(q_pq)
    capsys.readouterr()
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5",
        "--grid", "1,2,4", "--target-recall", "0.6", "--save-tuned",
    ]) == 0
    out = capsys.readouterr().out
    assert out.startswith("tuned nprobe=")
    tuned = float(out.splitlines()[0].split("recall=")[1].split()[0])
    assert tuned >= 0.6
    import json

    meta = json.load(open(f"{idx}/meta.json"))
    assert meta["tuned_nprobe"] in (1, 2, 4)
    assert meta["tuned_recall"] >= 0.6 and meta["tuned_target"] == 0.6
    # the phase-2 config the tuner measured under is recorded so serving
    # can reproduce tuned_recall (defaults here: rank cut γ=4, no rerank)
    assert meta["tuned_refine"] == 4
    assert meta["tuned_rerank"] is False
    assert meta["tuned_refine_mode"] == "rank"
    # re-tune under the adaptive prune: the recorded config must follow
    capsys.readouterr()
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5",
        "--grid", "1,2,4", "--target-recall", "0.6", "--save-tuned",
        "--refine-mode", "threshold", "--rerank",
    ]) == 0
    meta = json.load(open(f"{idx}/meta.json"))
    assert meta["tuned_refine_mode"] == "threshold"
    assert meta["tuned_rerank"] is True


def test_cli_ip_metric_index_and_search(spark, tmp_path, capsys):
    """--metric ip: MIPS index end-to-end through the CLI; full-grid
    recall against inner-product ground truth is high."""
    rng = np.random.default_rng(13)
    # varied norms so the MIPS augmentation actually matters
    mat = (rng.standard_normal((60, 8)) * rng.uniform(0.2, 3.0, (60, 1))).astype(
        np.float32
    )
    src = str(tmp_path / "b.fvecs")
    vecs_io.write_fvecs(src, mat)
    base_pq = str(tmp_path / "b.parquet")
    idx = str(tmp_path / "i")
    assert cli.main(["ingest", src, base_pq]) == 0
    assert cli.main(
        ["create-index", base_pq, idx, "--k", "4", "--b", "4",
         "--metric", "ip", "--graph"]
    ) == 0
    import json

    meta = json.load(open(f"{idx}/meta.json"))
    assert meta["metric"] == "ip" and meta["mips_norm"] > 0
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 5").write.parquet(q_pq)
    capsys.readouterr()
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5", "--grid", "4",
    ]) == 0
    out = capsys.readouterr().out
    row = out.strip().splitlines()[-1].split(",")
    assert float(row[2]) >= 0.9  # recall vs IP ground truth at full probes
    # the ratio column is the augmented-L2 transform — finite, near 1
    # at full probes + exact rerank (NOT nan: the -dot distances are
    # shifted into the nonnegative MIPS geometry before the metric)
    assert row[3] != "nan" and 0.99 <= float(row[3]) < 1.05
    # graph-probed search on the ip index: beam search runs in the
    # augmented (d+1)-dim space — regression for the raw-query crash
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5", "--grid", "4",
        "--use-graph",
    ]) == 0
    out = capsys.readouterr().out
    row = out.strip().splitlines()[-1].split(",")
    assert float(row[2]) >= 0.9
    # tuner through the graph seam (probes_factory now threads into
    # tune_nprobe) with the tuned result persisted
    assert cli.main([
        "search", idx, q_pq, "--base", base_pq, "--k", "5",
        "--grid", "2,4", "--use-graph", "--target-recall", "0.5",
        "--save-tuned", "--rounds", "2",
    ]) == 0
    out = capsys.readouterr().out
    assert out.startswith("tuned nprobe=")
    meta = json.load(open(f"{idx}/meta.json"))
    assert meta["tuned_nprobe"] in (2, 4)


def test_cli_profile(spark, tmp_path, capsys):
    """The dataset-card verb prints every section with rows."""
    from conftest import SF_SMOKE

    assert cli.main(["profile", SF_SMOKE]) == 0
    out = capsys.readouterr().out
    for section in (
        "corpus_stats", "corpus_length_quantiles", "source_divergence",
        "dedup_cluster_sizes", "corpus_integrity_audit",
    ):
        assert f"== {section}" in out
    # the audit row is one CSV line with integer counters
    assert "n_docs" in out


def test_cli_gt_writes_ivecs_and_parquet(spark, tmp_path, capsys):
    """The compute_gt.py analog: distributed brute-force GT, exported as
    the standard .ivecs artifact — round-tripped and checked against a
    numpy brute-force computation."""
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((60, 8)).astype(np.float32)
    base_pq = str(tmp_path / "b.parquet")
    vecs_io.vectors_to_df(spark, mat).write.parquet(base_pq)
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 7").write.parquet(q_pq)
    gt_file = str(tmp_path / "gt.ivecs")
    gt_pq = str(tmp_path / "gt.parquet")
    assert cli.main(
        ["gt", base_pq, q_pq, "--k", "5", "--out", gt_file,
         "--out-parquet", gt_pq]
    ) == 0
    out = capsys.readouterr().out
    assert "gt.ivecs (7 x 5)" in out
    got = vecs_io.read_ivecs(gt_file)
    # numpy reference: exact top-5 with (dist, id) tie order
    d2 = ((mat[:7, None, :].astype(np.float64)
           - mat[None, :, :].astype(np.float64)) ** 2).sum(axis=2)
    order = np.lexsort((np.arange(60)[None, :].repeat(7, 0), d2), axis=1)[:, :5]
    np.testing.assert_array_equal(got, order)
    pq = spark.read.parquet(gt_pq)
    assert pq.count() == 35 and set(pq.columns) == {"qid", "rank", "id", "dist"}


def test_cli_search_gt_cache(spark, tmp_path, capsys):
    """--gt-parquet: first sweep computes + writes the GT cache, a second
    sweep reads it and reports IDENTICAL recall/ratio; a provenance
    mismatch (different base) fails loudly instead of silently scoring
    against the wrong ground truth."""
    import pytest

    rng = np.random.default_rng(23)
    mat = rng.standard_normal((80, 8)).astype(np.float32)
    base_pq = str(tmp_path / "b.parquet")
    vecs_io.vectors_to_df(spark, mat).write.parquet(base_pq)
    idx = str(tmp_path / "idx")
    assert cli.main(["create-index", base_pq, idx, "--k", "4", "--b", "4"]) == 0
    capsys.readouterr()
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 5").write.parquet(q_pq)
    gt_pq = str(tmp_path / "gtcache.parquet")

    def run(extra=()):
        assert cli.main([
            "search", idx, q_pq, "--base", base_pq, "--k", "5",
            "--grid", "2,4", "--gt-parquet", gt_pq, *extra,
        ]) == 0
        out = capsys.readouterr().out
        return out, [ln for ln in out.strip().splitlines()
                     if ln[:1].isdigit()]

    out1, rows1 = run()
    assert "computed + cached GT" in out1
    assert (tmp_path / "gtcache.parquet" / "_gt_meta.json").exists()
    out2, rows2 = run()
    assert "using GT cache" in out2
    # identical recall/ratio columns; QPS (col 1) is wall-clock noise
    for r1, r2 in zip(rows1, rows2):
        assert r1.split(",")[::2] == r2.split(",")[::2]

    # provenance mismatch: same cache path, different base table
    other_pq = str(tmp_path / "b2.parquet")
    vecs_io.vectors_to_df(spark, mat[:40]).write.parquet(other_pq)
    with pytest.raises(SystemExit, match="GT cache"):
        cli.main([
            "search", idx, q_pq, "--base", other_pq, "--k", "5",
            "--grid", "2", "--gt-parquet", gt_pq,
        ])

    # sidecar-less non-empty target (ADVICE r8): --gt-parquet pointed at
    # existing data this tool did NOT write must refuse, not overwrite
    foreign = tmp_path / "foreign.parquet"
    spark.read.parquet(base_pq).write.parquet(str(foreign))
    assert not (foreign / "_gt_meta.json").exists()
    with pytest.raises(SystemExit, match="refusing to overwrite"):
        cli.main([
            "search", idx, q_pq, "--base", base_pq, "--k", "5",
            "--grid", "2", "--gt-parquet", str(foreign),
        ])
    # the foreign data survives untouched
    assert spark.read.parquet(str(foreign)).count() == 80


def test_cli_query_single_shot(spark, tmp_path, capsys):
    """The `query` verb (r9): single-shot serving over a saved index —
    results identical to the library search_index call, honors an
    explicit --nprobe, falls back to the persisted tuned_nprobe, and
    surfaces the stale-tune warning."""
    import json
    import warnings as _warnings

    from extended_rabitq_spark.operators.rabitq import search_index

    rng = np.random.default_rng(31)
    mat = rng.standard_normal((90, 8)).astype(np.float32)
    base_pq = str(tmp_path / "b.parquet")
    vecs_io.vectors_to_df(spark, mat).write.parquet(base_pq)
    idx = str(tmp_path / "idx")
    assert cli.main(["create-index", base_pq, idx, "--k", "4", "--b", "4"]) == 0
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 6").write.parquet(q_pq)
    capsys.readouterr()

    # parquet output == library result at the same nprobe
    out_pq = str(tmp_path / "res.parquet")
    assert cli.main(["query", idx, q_pq, "--k", "5", "--nprobe", "2",
                     "--out", out_pq]) == 0
    got = {(r["qid"], r["rank"]): r["id"]
           for r in spark.read.parquet(out_pq).collect()}
    from pyspark.sql import functions as F

    qdf = spark.read.parquet(q_pq).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec"))
    want = {(r["qid"], r["rank"]): r["id"]
            for r in search_index(spark, idx, qdf, k=5, nprobe=2).collect()}
    assert got == want and len(got) == 30

    # stdout mode prints qid,rank,id,est_dist rows
    capsys.readouterr()
    assert cli.main(["query", idx, q_pq, "--k", "3", "--nprobe", "2",
                     "--show", "9"]) == 0
    lines = [ln for ln in capsys.readouterr().out.strip().splitlines()
             if ln.count(",") == 3]
    assert len(lines) == 9

    # tuned_nprobe default + loud stale-tune warning
    with open(f"{idx}/meta.json") as fh:
        m = json.load(fh)
    m.update(tuned_nprobe=2, tuned_recall=0.5, tuned_target=0.9,
             tuned_target_met=False)
    with open(f"{idx}/meta.json", "w") as fh:
        json.dump(m, fh)
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        assert cli.main(["query", idx, q_pq, "--k", "3", "--show", "3"]) == 0
    assert any("missed its recall target" in str(w.message) for w in rec)


def test_cli_quality_scores_corpus(spark, tmp_path, capsys):
    from conftest import SF_SMOKE

    out = str(tmp_path / "scored.parquet")
    assert cli.main(["quality", SF_SMOKE, out]) == 0
    printed = capsys.readouterr().out
    assert "docs pass ->" in printed and "weights:" in printed
    scored = spark.read.parquet(out)
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert scored.count() == n_docs
    assert set(scored.columns) == {"doc_id", "quality_score", "quality_pred"}


def test_cli_quality_model_save_and_reuse(spark, tmp_path, capsys):
    from conftest import SF_SMOKE

    out1 = str(tmp_path / "s1.parquet")
    out2 = str(tmp_path / "s2.parquet")
    mpath = str(tmp_path / "qm")
    assert cli.main(["quality", SF_SMOKE, out1, "--save-model", mpath]) == 0
    assert "saved model ->" in capsys.readouterr().out
    # rescore with the saved model: identical output, no retrain
    assert cli.main(["quality", SF_SMOKE, out2, "--model", mpath]) == 0
    a = sorted(map(tuple, spark.read.parquet(out1).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_cli_ingest_docs(spark, tmp_path, capsys):
    import gzip as _gzip
    import json as _json

    src = str(tmp_path / "c.jsonl.gz")
    with _gzip.open(src, "wb") as fh:
        fh.write(b"\n".join(
            _json.dumps({"text": f"doc number {i} body", "language": "en"}).encode()
            for i in range(12)
        ))
    out = str(tmp_path / "docs.parquet")
    assert cli.main(
        ["ingest-docs", src, out, "--lang-field", "language"]
    ) == 0
    assert "ingested 12 documents" in capsys.readouterr().out
    df = spark.read.parquet(out)
    assert df.count() == 12
    assert set(df.columns) == {"doc_id", "text", "lang", "source", "n_chars"}


def test_cli_ingest_warc(spark, tmp_path, capsys):
    src = str(tmp_path / "shard.warc")
    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        b"<html><body><p>warc cli doc</p></body></html>"
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x.example/\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"
    )
    with open(src, "wb") as fh:
        fh.write(rec)
    out = str(tmp_path / "wdocs.parquet")
    assert cli.main(["ingest-warc", src, out]) == 0
    assert "ingested 1 documents" in capsys.readouterr().out
    df = spark.read.parquet(out)
    row = df.first()
    assert row.text == "warc cli doc" and row.url == "http://x.example/"


def test_cli_query_adaptive(spark, tmp_path, capsys):
    """`query --adaptive LO:HI` (r9 cont.): per-query probe escalation —
    result rows match the library rabitq_search_adaptive call; ivfpq
    indexes and --use-graph yes are refused at the boundary."""
    from extended_rabitq_spark.operators.adaptive import rabitq_search_adaptive
    from extended_rabitq_spark.operators.rabitq import load_index

    rng = np.random.default_rng(33)
    mat = rng.standard_normal((90, 8)).astype(np.float32)
    base_pq = str(tmp_path / "b.parquet")
    vecs_io.vectors_to_df(spark, mat).write.parquet(base_pq)
    idx = str(tmp_path / "idx")
    assert cli.main(["create-index", base_pq, idx, "--k", "4", "--b", "4"]) == 0
    q_pq = str(tmp_path / "q.parquet")
    spark.read.parquet(base_pq).where("id < 6").write.parquet(q_pq)

    out_pq = str(tmp_path / "res.parquet")
    assert cli.main(["query", idx, q_pq, "--k", "5",
                     "--adaptive", "1:3", "--out", out_pq]) == 0
    got = {(r["qid"], r["rank"]): r["id"]
           for r in spark.read.parquet(out_pq).collect()}
    from pyspark.sql import functions as F

    qdf = spark.read.parquet(q_pq).select(
        F.col("id").alias("qid"), F.col("vec").alias("qvec"))
    codes, cents, meta = load_index(spark, idx)
    want = {(r["qid"], r["rank"]): r["id"]
            for r in rabitq_search_adaptive(
                qdf, codes, cents, meta, k=5, nprobe_lo=1, nprobe_hi=3
            ).collect()}
    assert got == want and len(got) == 30

    with pytest.raises(SystemExit, match="use-graph"):
        cli.main(["query", idx, q_pq, "--adaptive", "1:3",
                  "--use-graph", "yes"])

    # malformed --adaptive values get a clean usage error, not a raw
    # ValueError traceback (ADVICE r9)
    for bad in ("3", "1:3:5", "a:b", "3:", ":3", "0:3", "3:3", "5:3"):
        with pytest.raises(SystemExit, match="adaptive"):
            cli.main(["query", idx, q_pq, "--adaptive", bad])

    # --adaptive-stats: the deployment diagnostic prints the escalation
    # fraction + probe-work ratio, and results still flow to --out
    out2 = str(tmp_path / "res2.parquet")
    assert cli.main(["query", idx, q_pq, "--k", "5", "--adaptive", "1:3",
                     "--adaptive-stats", "--out", out2]) == 0
    got2 = {(r["qid"], r["rank"]): r["id"]
            for r in spark.read.parquet(out2).collect()}
    assert got2 == want
    stats_line = [ln for ln in capsys.readouterr().out.splitlines()
                  if ln.startswith("adaptive-stats:")]
    assert len(stats_line) == 1
    assert "escalated_frac=" in stats_line[0]
    assert "probe_work_vs_fixed_hi=" in stats_line[0]

    with pytest.raises(SystemExit, match="adaptive-stats requires"):
        cli.main(["query", idx, q_pq, "--adaptive-stats"])

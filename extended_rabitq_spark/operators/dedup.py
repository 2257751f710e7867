"""Deduplication operators for LLM training-data pipelines (north-star
surface; BASELINE.json).  No reference counterpart — built from the same
KNN/hash primitives, designed for 100 TB:

- exact:      one hash-groupBy shuffle on a 16-byte key; map-side partial
              aggregation applies.
- n-gram Jaccard: shingle-explode → self equi-join on shingle → pair
              aggregation.  Never materializes the O(N²) pair space —
              only pairs sharing ≥1 shingle, and a document-frequency cap
              drops stop-shingles that would quadratically blow up a
              common-shingle join (the classic skew guard).
- MinHash+LSH: per-doc signatures (groupBy-min per seed, partial-agg
              friendly) → band keys → equi-join per band → verify exact
              Jaccard only on band-collided candidates.
- SimHash:    token-hash bit-vote per doc (explode + sum, partial-agg) →
              fingerprint; pair scan restricted to candidates (here:
              fixture-sized; banding by fingerprint prefix at scale).
- embedding cosine: exact O(N²) declarative baseline (oracle-checkable)
              + the scale path is the IVF/RaBitQ ANN join (knn_rabitq).

All hashing uses the md5-based portable 60-bit hash so the DuckDB oracle
reproduces signatures exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..staging import stage_eager as _stage_eager, stage_lazy as _stage_lazy

from ..functions import text as T
from ..functions import vector as V
from .bloom import bloom_or, bloom_prefilter, build_bloom, load_blooms, save_blooms

DF_CAP = 100  # shingle document-frequency cap (skew guard)


def normalized(docs: DataFrame, text: str = "text") -> DataFrame:
    return docs.withColumn("_norm", F.expr(T.norm_text(text)))


def exact_dedup(docs: DataFrame, id_: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact dedup by content hash → (content_hash, keep_doc_id, dup_count).

    keep = min doc_id per group (deterministic survivor policy)."""
    d = normalized(docs, text)
    return (
        d.select(F.col(id_), F.md5("_norm").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_).alias("keep_doc_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def shingle_table(docs: DataFrame, id_: str = "doc_id", text: str = "text",
                  keep_df: bool = False) -> DataFrame:
    """(doc_id, shingle) distinct word-3-shingles, stop-shingles (df >
    DF_CAP) removed.  ``keep_df=True`` retains the ``_df`` document
    frequency the cap window already computed — consumers that need df
    (the prefix-filter ranking) then skip a whole groupBy+join pass."""
    # Materialize tokens before shingling (a lambda body re-evaluates any
    # embedded subexpression per element — inlining split() would
    # re-tokenize the whole document per shingle index), but FUSE the
    # explode with the shingle expression: a separate projection of the
    # array puts the expensive expression under the Generate node where it
    # is re-evaluated per output row (measured 17× slower).
    sh = docs.select(
        F.col(id_).alias("doc_id"), F.expr(T.tokens(text)).alias("_toks")
    ).select("doc_id", F.explode(F.expr(T.shingles3("_toks"))).alias("shingle"))
    # df cap via a COUNT window: ONE shuffle by shingle instead of the
    # groupBy-freq + join form's two (the join co-locates by shingle
    # anyway, so skew exposure is identical and AQE covers it; measured
    # 4.2s → 2.4s on the sf0.1 shingle table, values unchanged).
    w = Window.partitionBy("shingle")
    capped = sh.withColumn("_df", F.count("*").over(w)).where(F.col("_df") <= DF_CAP)
    return capped if keep_df else capped.select("doc_id", "shingle")


def raw_shingles(docs: DataFrame, id_: str = "doc_id", text: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct word-3-shingles, NO df cap (the fused
    tokenize+explode stage of shingle_table)."""
    return docs.select(
        F.col(id_).alias("doc_id"), F.expr(T.tokens(text)).alias("_toks")
    ).select("doc_id", F.explode(F.expr(T.shingles3("_toks"))).alias("shingle"))


def stop_shingles(
    docs: DataFrame,
    id_: str = "doc_id",
    text: str = "text",
    *,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The corpus-wide stop-shingle list: shingles with df > DF_CAP —
    TINY by the heavy-hitter bound (≤ total_shingles/DF_CAP distinct
    values, in practice a handful of boilerplate phrases), materialized
    eagerly so multi-branch plans compute the full corpus pass ONCE.

    df is defined over the WHOLE input corpus: callers that restrict a
    verify pass to candidate docs must anti-join against THIS list, not
    re-derive df on the restricted set (which would resurrect
    stop-shingles and change Jaccard values).

    ``shingles``: pass an already-materialized raw shingle table to
    derive the list without a second corpus scan (the df > DF_CAP rule
    then has exactly one definition for every caller)."""
    sh0 = shingles if shingles is not None else raw_shingles(docs, id_, text)
    return (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > DF_CAP)
        .select("shingle")
        # LAZY checkpoint (r10): computed exactly once either way, but
        # eager=True paid a standalone driver-blocking job per call —
        # lazy folds the materialization into the first consuming job
        # (measured −0.3-0.4s warm on dedup_minhash_lsh; multi-branch
        # plans still share the single checkpointed copy)
        .transform(_stage_lazy)
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, id_: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Near-dup pairs by word-shingle Jaccard ≥ threshold →
    (doc_a, doc_b, jaccard_r)."""
    # Materialize once: the shingle table feeds BOTH self-join sides and
    # the sizes aggregate — three tokenize+shingle recomputes otherwise
    # (the self-join recompute trap; measured ~1.8s vs 2.2s steady and
    # 3x better cold at sf0.1).  Lazy (r10): the materialization folds
    # into the final job instead of a standalone barrier — A/B warm
    # median 1.73 -> 1.41s; the first branch to run stores the blocks,
    # later branches read them.
    sh = shingle_table(docs, id_, text).transform(_stage_lazy)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("nsh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "na"), on="doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nb"), on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jac"),
        )
    )
    return j.where(F.col("jac") >= threshold).select(
        "doc_a", "doc_b", F.round("jac", 6).alias("jaccard_r")
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_: str = "doc_id",
    text: str = "text",
    broadcast_max_docs: int = 65536,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    SSJoin/PPJoin family) → (doc_a, doc_b, jaccard_r), identical output
    to :func:`ngram_jaccard_pairs` at the same threshold (pinned in
    tests/test_dedup_text.py) with a provably-complete candidate set
    that joins only PREFIX shingles instead of all shingles.

    The filter law: order every doc's shingles by one global order
    (ascending document frequency — rarest first — ties by shingle
    string).  J(x,y) ≥ t forces |y| ≥ t·|x| (else J ≤ |y|/|x| < t) and
    hence overlap ≥ ⌈t·|x|⌉; by pigeonhole two sets with overlap ≥ α
    must share a token within their first |·| − α + 1 tokens of the
    common order.  So joining prefixes of length |x| − ⌈t·|x|⌉ + 1
    misses no qualifying pair, and the rarest-first order makes those
    prefixes the LOWEST-df shingles — candidate buckets are small by
    construction (vs the all-shingle join, whose biggest buckets are
    the df-cap boundary).  A length filter (|y| ≥ t·|x|) prunes the
    survivors before the exact verify.  ⌈·⌉ is computed on t·n − 1e-9:
    binary-float t (e.g. 0.4) can land a hair ABOVE the exact product
    and shrink the prefix by one — the epsilon only ever LENGTHENS a
    prefix, which is always complete.

    100-TB shape: one shingle materialization feeds ranking, sizes, and
    verify; everything else is equi-joins + one window partitioned by
    doc_id.  Unlike MinHash-LSH the output is exact (no hash-family
    recall loss) — this is the right tool when the dedup policy is a
    hard Jaccard threshold rather than a recall/cost trade."""
    if not 0.0 < threshold <= 1.0:
        # t ≤ 0 makes every pair qualify (the prefix bound degenerates
        # to the whole set and the inner-join verify would still drop
        # zero-overlap pairs — wrong output, so refuse)
        raise ValueError(f"jaccard_prefix_pairs: threshold must be in (0, 1], got {threshold}")
    # keep_df: the cap window inside shingle_table already counted each
    # shingle's document frequency — reusing it saves the groupBy+join
    # re-derivation (one full shuffle of the shingle table)
    sh_df = shingle_table(docs, id_, text, keep_df=True).transform(_stage_eager)
    sh = sh_df.select("doc_id", "shingle")
    # nsh via a COUNT window over the SAME doc_id partitioning as the
    # prefix-rank window — one shared hashpartitioning(doc_id) exchange
    # instead of the r8 groupBy+join re-derivation (the shingle_table
    # df-cap move applied here; the verify gets its sizes from the
    # per-doc sets below, so nothing else needs the aggregate)
    w = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    w_doc = Window.partitionBy("doc_id")
    ranked = (
        sh_df.withColumn("_pos", F.row_number().over(w))
        .withColumn("nsh", F.count("*").over(w_doc))
    )
    prefix_len = F.col("nsh") - F.ceil(F.lit(threshold) * F.col("nsh") - 1e-9) + 1
    prefix = ranked.where(F.col("_pos") <= prefix_len).select(
        "doc_id", "shingle", "nsh", "_pos"
    )
    # positional filters (PPJoin's second filter + a PPJoin+-flavored
    # multi-match bound, r9): J ≥ t forces overlap α ≥
    # ⌈t/(1+t)·(|x|+|y|)⌉.  The pair-dedup shuffle the r8 .distinct()
    # already paid is upgraded to a groupBy that aggregates, per pair,
    # the matched-prefix-token count c and the first/last matched
    # positions in each doc — SAME shuffle volume, two lossless bounds
    # for the price of one:
    #   (1) earliest-match bound (r8's filter, now exact over the
    #       true first match instead of ∃-per-row):
    #       1 + min(|x|−i_first, |y|−j_first) ≥ α;
    #   (2) multi-match suffix bound: both docs list their shingles in
    #       ONE global order, so shared tokens appear in the same
    #       relative order in both — any shared token NOT matched in
    #       the prefix×prefix join must sit after the LAST prefix
    #       match in BOTH docs (if it preceded i_last in x it would
    #       precede j_last in y by order-consistency, putting it
    #       inside both prefixes = matched, contradiction).  Hence
    #       overlap ≤ c + min(|x|−i_last, |y|−j_last) ≥ α required.
    #   Both are true upper bounds on overlap, so qualifying pairs
    #   always pass (lossless; epsilon relaxes α downward only).
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("_na") + F.col("_nb"))
        - 1e-9
    )
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), on="shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        # length filter both ways (relaxed by the same epsilon — pruning
        # may only be LESS aggressive than exact, never more)
        .where(
            (F.col("y.nsh") >= threshold * F.col("x.nsh") - 1e-9)
            & (F.col("x.nsh") >= threshold * F.col("y.nsh") - 1e-9)
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("_c"),
            F.min("x._pos").alias("_if"), F.min("y._pos").alias("_jf"),
            F.max("x._pos").alias("_il"), F.max("y._pos").alias("_jl"),
            F.max("x.nsh").alias("_na"), F.max("y.nsh").alias("_nb"),
        )
        .where(
            (1 + F.least(F.col("_na") - F.col("_if"),
                         F.col("_nb") - F.col("_jf")) >= alpha)
            & (F.col("_c") + F.least(F.col("_na") - F.col("_il"),
                                     F.col("_nb") - F.col("_jl")) >= alpha)
        )
        .select("doc_a", "doc_b")
        .transform(_stage_eager)
    )
    # exact verify on the SAME materialized shingles — shared array-set
    # verify (see _array_set_verify)
    return _array_set_verify(sh, cand, threshold, broadcast_max_docs)


def _array_set_verify(
    sh: DataFrame,
    cand: DataFrame,
    threshold: float,
    broadcast_max_docs: int = 65536,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against a
    materialized (doc_id, shingle) table → (doc_a, doc_b, jaccard_r)
    with jac ≥ threshold.  Shared by the prefix-filter join (r9) and
    MinHash-LSH (r10) so the verify shape has one definition.

    Per-doc SETS, not an exploded join (VERDICT r8 item 4): the exploded
    shape expands every candidate pair by doc_a's full shingle list
    (Σ_pairs |x| rows) and shuffles that through a second join + groupBy.
    Collapsing each candidate doc's (already-distinct) shingles into ONE
    array row makes the verify two equi-joins of the candidate list
    against a compact per-doc table, with the intersection counted
    JVM-side by array_intersect (hash-set build per row, O(|x|+|y|),
    inside codegen) — no per-pair row expansion, no verify-side shuffle
    of shingle rows.  Exactness is unchanged: same distinct string
    shingles, same counts; the sets also carry nsh so separate sizes
    joins fold in (a pair with zero common shingles gets inter = 0,
    exactly the old left-join + coalesce(inter, 0) semantics)."""
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # ONE materialization feeds both pair-join sides (the aliased
    # selects below would otherwise defeat exchange reuse and compute
    # the semi-join + collect twice).
    doc_sets = (
        sh.join(F.broadcast(cand_ids), on="doc_id", how="left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("shs"), F.count("*").alias("nsh"))
        .transform(_stage_lazy)
    )
    # route the pair joins by candidate-doc count (the rabitq_search
    # auto-route move).  r10: the routing count runs on cand_ids — a
    # distinct over the tiny CHECKPOINTED pair list (~ms) — instead of
    # on doc_sets, whose count forced an eager corpus-side semi-join +
    # collect_list job with no purpose but routing (measured ~0.7s warm
    # of a 2.5s query); the doc_sets materialization now folds into the
    # first verify job.  Under the bound, doc_sets broadcasts and the
    # pairs REPARTITION first: the verify is CPU-bound (hash-set
    # intersects) but byte-small, so AQE would coalesce it onto ~4
    # tasks and leave 28 cores idle (measured 1.3s → 0.56s at sf0.1
    # from the spread alone).  Above the bound — 100 TB corpora where
    # candidate docs are unbounded — both joins stay plain equi-joins
    # (sort-merge, no driver/executor-memory exposure).
    n_cand_docs = cand_ids.count()
    if n_cand_docs <= broadcast_max_docs:
        sets_a = F.broadcast(doc_sets)
        sets_b = F.broadcast(doc_sets)
        # EXPLICIT partition count: an expression-only repartition is
        # AQE-coalescible and collapses this byte-small stage back onto
        # one task (measured 2.3s single-task vs 0.56s spread); a
        # user-specified count is exempt from coalescing.
        pairs_in = cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism, "doc_a"
        )
    else:
        sets_a = doc_sets
        sets_b = doc_sets
        pairs_in = cand
    j = (
        pairs_in
        .join(
            sets_a.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shs").alias("sh_a"),
                F.col("nsh").alias("na"),
            ),
            on="doc_a",
        )
        .join(
            sets_b.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shs").alias("sh_b"),
                F.col("nsh").alias("nb"),
            ),
            on="doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            "na",
            "nb",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jac"),
        )
    )
    return j.where(F.col("jac") >= threshold).select(
        "doc_a", "doc_b", F.round("jac", 6).alias("jaccard_r")
    )


N_MINHASH = 8
N_BANDS = 4  # rows per band = N_MINHASH / N_BANDS = 2


def minhash_signatures(docs: DataFrame, id_: str = "doc_id", text: str = "text",
                       hash_mode: str = "md5") -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): sig_i = min over shingles of
    perm_i(hash60(shingle)) — one hash per shingle, cheap 2-universal
    permutations per seed (functions.text.MINHASH_COEFFS).  A
    groupBy-min per seed — partial-agg friendly, one shuffle.
    ``hash_mode``: see :func:`_signatures_from_shingles`."""
    return _signatures_from_shingles(shingle_table(docs, id_, text), hash_mode)


def _signatures_from_shingles(sh: DataFrame, hash_mode: str = "md5") -> DataFrame:
    # One hash per shingle (projected once), then N cheap 2-universal
    # permutations (functions.text.minhash_perm) — the signature pass
    # hashes the exploded shingle table ONCE instead of N_MINHASH times.
    # hash_mode='md5' is the cross-engine oracle hash; 'xxh64' is the
    # JVM-native production hash (functions.text.xxh60) — candidate
    # DISCOVERY is hash-family-dependent, but the exact-Jaccard verify
    # step reads shingle strings, so verified pairs carry true Jaccard
    # either way.
    hfn = T.hash60 if hash_mode == "md5" else T.xxh60
    if hash_mode not in ("md5", "xxh64"):
        raise ValueError(f"hash_mode must be 'md5' or 'xxh64', got {hash_mode!r}")
    th = sh.select("doc_id", F.expr(hfn("shingle")).alias("h"))
    aggs = [
        F.min(F.expr(T.minhash_perm(i, "h"))).alias(f"sig_{i}")
        for i in range(N_MINHASH)
    ]
    return th.groupBy("doc_id").agg(*aggs)


def _band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key): LSH band keys from a minhash signature table."""
    rows = N_MINHASH // N_BANDS
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"sig_{bi * rows + r}").cast("string")
                                for r in range(rows)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.4, id_: str = "doc_id", text: str = "text",
    hash_mode: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-dup: band-collision candidates verified with exact
    Jaccard → (doc_a, doc_b, jaccard_r).  Only collided pairs are scored.

    Pass structure (what makes this scale): the corpus is
    tokenized+shingled exactly ONCE — the raw shingle table is
    materialized (localCheckpoint; at 100 TB this is a staged parquet
    write) and the stop-shingle list (df > DF_CAP, heavy-hitter-
    bounded), the signatures, AND the verification subset all derive
    from that one materialization.  The candidate pair list, tiny by
    LSH construction, is also checkpointed so the band join's upstream
    never recomputes per downstream reference; verification semi-joins
    the materialized shingles down to docs appearing in some candidate
    pair — df semantics stay corpus-wide because the anti-join uses
    the corpus-level stop list, not a subset-derived one.  (Round-2
    measured .persist() of the exploded shingle table 65% SLOWER than
    recompute; localCheckpoint avoids the cache-tier serialization that
    caused that, and measures ~25% FASTER steady plus 3× better cold
    at sf0.1 — 3.6-4.2s → 2.8-3.4s.)"""
    raw = raw_shingles(docs, id_, text).transform(_stage_eager)
    stop = stop_shingles(docs, id_, text, shingles=raw)
    sh = raw.join(F.broadcast(stop), on="shingle", how="left_anti")
    sigs = _signatures_from_shingles(sh, hash_mode)
    bands = _band_keys(sigs)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
        # tiny pair list; single materialization.  Eager measured FASTER
        # than lazy here (r10 A/B: warm median 2.57 vs 2.93s — the lazy
        # form folds the whole signature pipeline into the routing
        # count() and loses the barrier's scheduling locality).
        .transform(_stage_eager)
    )
    # verify: exact jaccard on collided candidates only, reading the
    # SAME materialized shingle table (no re-tokenize) — the shared
    # array-set verify (r10: replaces the r8-era exploded-join verify,
    # which expanded every candidate pair by its full shingle list and
    # paid an extra eager checkpoint + four joins; same inputs → same
    # inter/nsh → identical jaccard values)
    return _array_set_verify(sh, cand, threshold)


def minhash_estimate_pairs(
    docs: DataFrame, id_: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Sketch-calibration audit: per LSH-candidate pair, the MinHash
    ESTIMATE next to the exact set overlap it approximates →
    (doc_a, doc_b, sig_matches, inter, nsh_a, nsh_b), all integers.

    ``sig_matches / N_MINHASH`` is the unbiased Jaccard estimator
    (Broder 1997); a pipeline that trusts MinHash to gate a 100 TB dedup
    pass should be able to grade that trust on its own corpus without a
    second tokenize pass — this query emits the estimator and the exact
    intersection side by side from the SAME shingle materialization.
    Candidate discovery mirrors :func:`minhash_lsh_pairs` stage-for-stage
    (one shingle pass, banded equi-join, broadcast stop-list); the extra
    work over that function is two equi-joins against the 8-column
    signature table — no all-pairs anywhere.
    """
    raw = raw_shingles(docs, id_, text).transform(_stage_eager)
    stop = stop_shingles(docs, id_, text, shingles=raw)
    sh = raw.join(F.broadcast(stop), on="shingle", how="left_anti")
    sigs = _signatures_from_shingles(sh).transform(_stage_eager)
    bands = _band_keys(sigs)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on=["band", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
        .transform(_stage_eager)
    )
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"_sa_{i}") for i in range(N_MINHASH)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"_sb_{i}") for i in range(N_MINHASH)],
    )
    match_expr = sum(
        F.when(F.col(f"_sa_{i}") == F.col(f"_sb_{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    est = (
        cand.join(sig_a, on="doc_a")
        .join(sig_b, on="doc_b")
        .select("doc_a", "doc_b", match_expr.cast("long").alias("sig_matches"))
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(
        F.broadcast(cand_ids), on="doc_id", how="left_semi"
    ).transform(_stage_eager)
    sizes = sh_cand.groupBy("doc_id").agg(F.count("*").alias("nsh"))
    inter = (
        cand.join(sh_cand.select(F.col("doc_id").alias("doc_a"), "shingle"), on="doc_a")
        .join(sh_cand.select(F.col("doc_id").alias("doc_b"), "shingle"), on=["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        est.join(inter, on=["doc_a", "doc_b"], how="left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("_na")), on="doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("_nb")), on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sig_matches",
            F.coalesce(F.col("_inter"), F.lit(0)).cast("long").alias("inter"),
            F.col("_na").cast("long").alias("nsh_a"),
            F.col("_nb").cast("long").alias("nsh_b"),
        )
    )


def shingle_novelty(docs: DataFrame, id_: str = "doc_id", text: str = "text") -> DataFrame:
    """Per-document n-gram novelty profile → (doc_id, n_shingles,
    n_novel): of a doc's distinct (df-capped) word-3-shingles, how many
    first appear in THIS doc (global min doc_id over the corpus)?

    The curation metric behind novel-text ordering and repetition audits
    on ordered corpora (cf. the memorization literature's duplicate-
    fraction covariate): n_novel/n_shingles near 0 marks a document whose
    content is entirely recycled from earlier ones even when no single
    pair crosses a dedup threshold.  Two partial-agg shuffles (first-
    occurrence groupBy shingle; per-doc counts) + one shingle equi-join —
    no all-pairs anywhere, and the shingle shuffle is the same key the
    dedup passes already use.  Integer-only output → hash-stable.
    """
    sh = shingle_table(docs, id_, text).transform(_stage_eager)
    fo = sh.groupBy("shingle").agg(F.min("doc_id").alias("_first_doc"))
    return (
        sh.join(fo, on="shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("_first_doc") == F.col("doc_id"), 1)).alias("n_novel"),
        )
    )


SIMHASH_BITS = 48


def simhash(docs: DataFrame, id_: str = "doc_id", text: str = "text") -> DataFrame:
    """48-bit SimHash per doc → (doc_id, simhash).

    Token (with multiplicity) hash bits vote ±1 per position; fingerprint
    bit j = majority sign.  48 bits keeps every intermediate in signed-64
    range on both engines.

    Shape: ONE groupBy over the token-hash table with 48 conditional-sum
    aggregates — all partial-agg (map-side combine) friendly.  The
    previous explode-per-bit form shuffled 48× the rows through two
    groupBys; this one shuffles ≤ |docs| partial rows per map task
    (sf0.1 banded pair query: 6.5s → 4.2s cold, 2.2s steady).
    Fingerprints are value-identical (same votes, same majority rule)."""
    d = normalized(docs, text)
    tok = d.select(
        F.col(id_).alias("doc_id"), F.explode(F.expr(T.tokens("_norm"))).alias("tok")
    )
    # (r10 note: a tf-weighted two-level form — groupBy (doc, term) with
    # counts, then hash per distinct term — was built and A/B-measured
    # at sf0.1: 2.39s vs 1.65s median, SLOWER.  The extra exchange +
    # second aggregation costs more than the md5 savings at the fixture
    # repetition factor of 2.3×; the one-shuffle instance-vote form
    # below stays.)
    th = tok.select("doc_id", F.expr(T.hash60("tok")).alias("h"))
    aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {j}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = th.groupBy("doc_id").agg(*aggs)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 8, id_: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming →
    (doc_a, doc_b, hamming).  Fixture-sized all-pairs comparison; at scale
    band by fingerprint prefix first (same LSH shape as MinHash)."""
    s = simhash(docs, id_, text).transform(_stage_eager)  # both cross-join sides read it
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_banded_pairs(
    docs: DataFrame, max_hamming: int = 3, id_: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Scale form of :func:`simhash_pairs`: LSH banding by pigeonhole.

    Split the 48-bit fingerprint into ``max_hamming + 1`` bands; a pair
    within Hamming distance ``max_hamming`` differs in at most
    ``max_hamming`` bit positions, so at least one band is bit-identical
    (pigeonhole).  Candidate generation is therefore an equi-join on
    ``(band, key)`` — a hash shuffle on a small key instead of the O(N²)
    cross join — and the post-filter on true Hamming distance makes the
    output EXACTLY equal to the all-pairs form (which is this query's
    DuckDB oracle).  At 100 TB the band join is the only shuffle and its
    key space (2^width per band) keeps partitions balanced; a hot band
    (e.g. all-zero fingerprints from empty docs) is the one skew risk —
    AQE skew-join handles it, or pre-filter degenerate docs.
    """
    nb = max_hamming + 1
    # Materialize the fingerprint table before the self-join: both join
    # sides reference it, and without a barrier the whole tokenize +
    # 48-aggregate vote pipeline is computed twice (once per side).  One
    # row per doc, two longs — tiny relative to the corpus; at 100 TB
    # this is the "write fingerprints, then join" staging any production
    # dedup does anyway.
    s = simhash(docs, id_, text).transform(_stage_eager)
    widths = [SIMHASH_BITS // nb + (1 if i < SIMHASH_BITS % nb else 0) for i in range(nb)]
    offs = [sum(widths[:i]) for i in range(nb)]
    bands = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {offs[i]}) & {(1 << widths[i]) - 1}"
                        ).alias("key"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(y, on=["band", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def _ann_self_join_scored_pairs(
    emb: DataFrame,
    k_per_query: int,
    nprobe: int | None,
    total_bits: int,
    id_: str,
    vec: str,
    n_clusters: int,
) -> DataFrame:
    """Shared core of the ANN near-dup pair finders → (id_a, id_b, cos)
    candidate pairs with exact cosine, id_a < id_b, deduped.

    Pipeline: L2-normalize (cosine ≡ L2 on the unit sphere,
    python/utils/preprocess.py:3-5) → build the IVF+RaBitQ index →
    every vector queries the index (rabitq_search plans the routes by
    size: a corpus-sized query side gets the cogroup scorer — NO driver
    collect — and the shuffle rerank, which is what lets the self-join
    run with N = corpus size) → exact re-rank on raw vectors → pair
    normalization (a<b) → exact cosine per pair.  Callers apply their
    own selection (global top-N / threshold)."""
    from .ivf import sampled_kmeans_centroids
    from .rabitq import build_index, centroids_with_rotation, rabitq_search

    spark = emb.sparkSession
    norm = emb.select(
        F.col(id_).alias("id"), F.expr(V.l2_normalize(vec)).alias("vec")
    )
    cents = sampled_kmeans_centroids(norm, k=n_clusters, vec="vec")
    index_df, meta = build_index(norm, cents, total_bits=total_bits)
    # r11: the eager index checkpoint is GONE.  After the r11 plan
    # reshapes (fused query prep, no codes semi-join at full probes,
    # single rerank chain) the codes subtree is consumed by exactly ONE
    # action — the scored-shortlist evaluation — so the barrier bought
    # nothing and cost a standalone driver-blocking job + block store per run
    # (measured 1.7s of a ~5.3s warm wall at sf0.1).  Production
    # serving still persists indexes (save_index / save_index_bucketed);
    # a REUSED in-session index should be staged by the caller.
    cents_full = centroids_with_rotation(spark, cents, meta)
    if nprobe is None:
        nprobe = n_clusters
    res = rabitq_search(
        norm.select(F.col("id").alias("qid"), F.col("vec").alias("qvec")),
        index_df,
        cents_full,
        meta,
        nprobe=nprobe,
        k=k_per_query + 1,  # +1: self-match rides along and is dropped
        rerank_base=norm,
    )
    pairs = (
        res.where(F.col("qid") != F.col("id"))
        .select(
            F.least("qid", "id").alias("id_a"),
            F.greatest("qid", "id").alias("id_b"),
        )
        .distinct()
    )
    # staged per-row norms (r10): one fold per pair, bitwise-identical
    # (functions.vector.cosine_sim_staged)
    a = emb.select(F.col(id_).alias("id_a"), F.col(vec).alias("va"),
                   F.expr(V.norm(vec)).alias("na"))
    b = emb.select(F.col(id_).alias("id_b"), F.col(vec).alias("vb"),
                   F.expr(V.norm(vec)).alias("nb"))
    # repartition the thin pair list before the exact-cosine projection:
    # with a/b broadcast the join chain is narrow, and AQE coalesces the
    # tiny post-distinct exchange to ~1 partition — which would serialize
    # every pair's array-fold cosine into one task.  The extra exchange
    # carries two BIGINTs per row.
    return pairs.repartition("id_a").join(a, on="id_a").join(b, on="id_b").select(
        "id_a", "id_b",
        F.expr(V.cosine_sim_staged("va", "vb", "na", "nb")).alias("cos"),
    )


def embedding_ann_pairs(
    emb: DataFrame,
    top_n: int = 20,
    nprobe: int | None = None,
    k_per_query: int | None = None,
    total_bits: int = 4,
    id_: str = "vec_id",
    vec: str = "embedding",
    n_clusters: int = 16,
) -> DataFrame:
    """Embedding near-dup via a distributed ANN self-join — the scale path
    of :func:`embedding_cosine_pairs` → (rnk, id_a, id_b, cos_r) global
    top-N most-similar pairs.

    Pipeline: L2-normalize (cosine ≡ L2 on the unit sphere,
    python/utils/preprocess.py:3-5) → build the IVF+RaBitQ index → every
    vector queries the index (the search planner gives a corpus-sized
    query side the cogroup scorer — NO driver collect — and the shuffle
    rerank, so the self-join runs with N = corpus size) → exact re-rank
    on raw vectors → pair normalization (a<b) → global top-N by exact
    cosine.

    Losslessness at full probes: a pair in the global top-N has fewer
    than N pairs above it, so each endpoint has < N nearer neighbors —
    per-query k ≥ N+1 captures every top-N pair (pigeonhole on ranks).
    With ``nprobe < n_clusters`` the search is approximate and the recall
    knob is (nprobe, k_per_query), exactly like query serving.

    ``k_per_query`` defaults to the theorem-tight ``top_n + 1``: the
    exact-rerank shortlist (a corpus-wide raw-vector join) scales
    linearly with it, and the measured grid (results/ann_dedup_kprobe.csv
    + the milestone-65 A/B) shows the old 2× headroom (40) bought zero
    pair recall at nprobe=4 — misses there are probe misses, not
    shortlist truncations (17/20 at k ∈ {12, 21, 40}).  Raise it only as
    an approximate-mode recall knob alongside nprobe.
    """
    from pyspark.sql import Window

    if k_per_query is None:
        k_per_query = top_n + 1
    scored = _ann_self_join_scored_pairs(
        emb, k_per_query, nprobe, total_bits, id_, vec, n_clusters
    )
    # Global top-N in two phases: TakeOrderedAndProject (per-partition
    # partial top-N, parallel — this stage also evaluates the exact
    # cosine) → row_number window over ≤ top_n rows.  A bare global
    # Window.orderBy would be a SINGLE task and, with the pair joins
    # broadcast (no shuffle boundary above it), would pull every cosine
    # evaluation into that one task — measured 4.4s of a 12s run at
    # sf0.1, and a straight scale-killer at 100 TB.
    top = scored.orderBy(
        F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(top_n)
    w = Window.orderBy(F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("rnk", "id_a", "id_b", F.round("cos", 6).alias("cos_r"))
    )


def embedding_threshold_pairs_ann(
    emb: DataFrame,
    threshold: float,
    k_per_query: int = 40,
    nprobe: int | None = None,
    total_bits: int = 4,
    id_: str = "vec_id",
    vec: str = "embedding",
    n_clusters: int = 16,
) -> DataFrame:
    """THRESHOLD-form ANN near-dup pairs → (id_a, id_b, cos_r) with
    cosine ≥ threshold — the scale twin of
    :func:`embedding_cosine_pairs` (which is all-pairs) for pipelines
    that prune on a similarity cutoff rather than a global top-N.

    Same distributed self-join as :func:`embedding_ann_pairs` (normalize
    → IVF+RaBitQ index → every vector queries, routes planned by size
    → exact re-rank), then pairs keep cos ≥ τ.
    Each pair has TWO chances to surface (both endpoints query); a pair
    is missed only if BOTH endpoints have ≥ k_per_query strictly nearer
    neighbors AND (when nprobe < n_clusters) both probes miss — on
    near-dup thresholds (τ ≥ ~0.7) qualifying pairs are near the top of
    both lists, so modest k_per_query suffices; fixture equality with
    the exact form is value-tested."""
    scored = _ann_self_join_scored_pairs(
        emb, k_per_query, nprobe, total_bits, id_, vec, n_clusters
    )
    return (
        scored.where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_r"))
    )


def embedding_cosine_pairs(
    emb: DataFrame, threshold: float = 0.9, id_: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold → (id_a, id_b, cos_r).

    Exact all-pairs form (the oracle-checkable baseline).  Scale path:
    replace the cross join with the IVF/RaBitQ ANN candidate join."""
    # staged per-row norms (r10): the N² pair stage folds each pair's
    # arrays once (dot) instead of three times — bitwise-identical
    # (functions.vector.cosine_sim_staged)
    a = emb.select(F.col(id_).alias("id_a"), F.col(vec).alias("va"),
                   F.expr(V.norm(vec)).alias("na"))
    b = emb.select(F.col(id_).alias("id_b"), F.col(vec).alias("vb"),
                   F.expr(V.norm(vec)).alias("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.expr(V.cosine_sim_staged("va", "vb", "na", "nb")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_r"))
    )


def contamination_check(
    docs: DataFrame,
    benchmark_ids: DataFrame,
    id_: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Benchmark-contamination scan (beyond-reference north star): for
    every non-benchmark doc, what fraction of its word-3-shingles also
    occurs in ANY benchmark document →
    (doc_id, n_shingles, n_contaminated, contamination_r).

    This is the check a training pipeline runs before shipping a corpus:
    eval-set n-gram overlap (the standard 'n-gram decontamination'
    recipe).  Scale shape: the benchmark shingle set is DISTINCT shingles
    of a small doc set → broadcast; the corpus side is one shingle pass +
    a broadcast semi-join + one groupBy — no N² anywhere, no skew beyond
    the DF_CAP guard already inside :func:`shingle_table`.

    ``benchmark_ids``: one-column DataFrame of ``id_`` values.
    """
    bench = benchmark_ids.select(F.col(id_).alias("doc_id"))
    # Pinned (lazy localCheckpoint): the shingle table feeds THREE plan
    # branches (benchmark shingle set, per-doc totals, contamination
    # hits) — the initial plan carried three copies of the
    # tokenize+shingle+df-window subtree and AQE stage reuse does not
    # fold them (the exchange sits below diverging joins).  Lazy, so
    # the materialization rides the first consuming job; same staged
    # shingle-table pattern as minhash_lsh_pairs (at 100 TB: the
    # intermediate parquet handoff any decontamination job writes).
    sh = shingle_table(docs, id_, text).transform(_stage_lazy)
    bench_sh = (
        sh.join(F.broadcast(bench), on="doc_id", how="left_semi")
        .select("shingle")
        .distinct()
    )
    target = sh.join(F.broadcast(bench), on="doc_id", how="left_anti")
    tot = target.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        target.join(F.broadcast(bench_sh), on="shingle", how="left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        tot.join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_shingles"),
                6,
            ).alias("contamination_r"),
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup pair list → duplicate CLUSTERS: hash-min label
    propagation over the pair graph → (doc_id, component_id), where
    ``component_id`` is the smallest doc_id reachable through near-dup
    pairs — i.e. the component's canonical survivor under the keep-lowest
    policy every dedup operator here uses (singletons keep themselves).

    This is the step production dedup needs between pair finding and
    survivor selection: pairwise drop-higher-id is NOT transitive-closed
    (A~B, B~C, A̸~C drops B and C but keeps A even though C's only link
    was through dropped B — fine; but chains of length > 2 under-merge).

    Scale shape: Pregel-style iteration — each round is one equi-join
    (edge src → label) + one groupBy-min + one join back, all on the id
    key; the frontier is checkpointed per round (lineage would otherwise
    grow linearly and re-execute the whole history each action).
    Rounds = graph diameter; near-dup components are short chains in
    practice (dup clusters), so this converges in a few rounds.  For
    adversarial long-path graphs use the alternating large-star /
    small-star variant (O(log n) rounds) — same join shapes.
    Node ids must be integral (component_id = the numeric min).
    """
    # persist() both loop-invariant frames LAZILY (r11): the old
    # eager count() barriers cost one standalone job each before the
    # loop; round 1's single job now materializes them while it runs
    # (both sides are reused every round, so the persists themselves
    # stay load-bearing).
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .persist()
    )
    lbl = nodes.select(
        F.col(id_).alias("id"), F.col(id_).cast("long").alias("comp")
    ).persist()
    prev_frame = lbl  # the persisted/checkpointed frame to release
    converged = False
    try:
        for _ in range(max_iter):
            nbr_min = (
                edges.join(lbl.withColumnRenamed("id", "src"), on="src")
                .groupBy("dst")
                .agg(F.min("comp").alias("nbr_comp"))
                .withColumnRenamed("dst", "id")
            )
            new_comp = F.least(
                F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
            )
            new = (
                lbl.join(nbr_min, on="id", how="left")
                .select(
                    "id",
                    new_comp.alias("comp"),
                    # labels only ever DECREASE, so `new < old` ⇔ changed;
                    # carrying the flag through the checkpoint makes the
                    # convergence test a trivial count over checkpointed
                    # blocks instead of the r9 join-back of the new frame
                    # against the old one (one full id-join per round;
                    # removing it measured −16% on dedup_components warm
                    # at sf0.1)
                    (new_comp < F.col("comp")).alias("_ch"),
                )
                # LAZY checkpoint (r11): the convergence count below is
                # the round's first action, so it triggers the
                # materialization itself — one job per round instead of
                # the eager barrier + count pair (the checkpoint still
                # cuts lineage; later rounds read the stored blocks).
                .transform(_stage_lazy)
            )
            changed = new.where(F.col("_ch")).count()
            prev_frame.unpersist()  # bound storage: newest frame only
            prev_frame = new  # the checkpointed frame (lbl is its view)
            lbl = new.select("id", "comp")
            if changed == 0:
                converged = True
                break
        if not converged:
            # silent exhaustion would return WRONG component ids —
            # under-merged components are a correctness failure, not a
            # quality knob
            raise RuntimeError(
                f"connected_components: no convergence in {max_iter} rounds "
                f"(graph diameter exceeds max_iter; raise max_iter or use "
                f"a star-contraction variant for long-path graphs)"
            )
    finally:
        edges.unpersist()
    return lbl.select(F.col("id").alias(id_), F.col("comp").alias("component_id"))


def save_dedup_artifacts(
    corpus_docs: DataFrame, path: str, id_: str = "doc_id", text: str = "text"
) -> None:
    """Persist the corpus-side dedup state :func:`incremental_dedup`
    needs — content hashes, the DF_CAP stop-shingle list, and MinHash
    band keys — so ingest gates stop re-deriving them from corpus TEXT
    on every shard (the scale note in incremental_dedup's docstring,
    made real).  ONE corpus scan computes all three: the raw shingle
    table is staged and feeds both the stop list and (filtered) the
    signatures.

    Layout: ``{path}/content_hashes`` (doc_id, h), ``{path}/stop_shingles``
    (shingle), ``{path}/bands`` (doc_id, band, key).  The stop list is a
    corpus-level property frozen at save time; band keys on BOTH sides
    of any later join must use THIS list (a refreshed list changes band
    keys and requires re-saving bands — a periodic maintenance rebuild,
    like centroid retraining)."""
    spark = corpus_docs.sparkSession
    # Layouts are probe-friendly: hashes repartitioned BY h and bands by
    # (band, key), each sorted within partitions — parquet min/max zone
    # maps then let a pushed key predicate (the post-bloom IN-list,
    # incremental_dedup) skip every untouched row group, so a gated
    # batch reads only the corpus row groups its candidate keys land in.
    normalized(corpus_docs, text).select(
        F.col(id_).alias("doc_id"), F.md5("_norm").alias("h")
    ).repartition("h").sortWithinPartitions("h").write.mode("overwrite").parquet(
        f"{path}/content_hashes"
    )
    sh0 = raw_shingles(corpus_docs, id_, text).transform(_stage_eager)
    stop = stop_shingles(corpus_docs, shingles=sh0)
    stop.write.mode("overwrite").parquet(f"{path}/stop_shingles")
    sh = sh0.join(F.broadcast(stop), on="shingle", how="left_anti")
    _band_keys(_signatures_from_shingles(sh)).repartition(
        "band", "key"
    ).sortWithinPartitions("band", "key").write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    # Bloom pre-gate artifacts (operators.bloom): the ingest gate tests
    # an incoming batch against these BEFORE touching the corpus-sized
    # hash/band tables — the all-unique batch (the common case) costs
    # O(batch), not O(corpus).  Lossless: no false negatives, FPs fall
    # through to the exact joins.  Built from the just-written parquet
    # (one cheap re-scan, no recompute of the shingle lineage).
    ch_df = spark.read.parquet(f"{path}/content_hashes")
    bd_df = spark.read.parquet(f"{path}/bands")
    save_blooms(
        spark,
        {
            "hashes": build_bloom(ch_df, ["h"]),
            "bands": build_bloom(bd_df, ["band", "key"]),
        },
        f"{path}/blooms",
    )


def append_dedup_artifacts(
    new_docs: DataFrame, path: str, id_: str = "doc_id", text: str = "text"
) -> None:
    """Extend saved dedup artifacts with newly accepted docs: their
    hashes and band keys (computed under the SAVED stop list, keeping
    band keys consistent) append as new parquet files — no rewrite of
    existing state.  The stop list itself is not updated (document
    frequency drifts as the corpus grows; refresh via
    :func:`save_dedup_artifacts` periodically, like any frozen
    statistic)."""
    spark = new_docs.sparkSession
    nh = normalized(new_docs, text).select(
        F.col(id_).alias("doc_id"), F.md5("_norm").alias("h")
    ).transform(_stage_eager)
    stop = spark.read.parquet(f"{path}/stop_shingles")
    sh = raw_shingles(new_docs, id_, text).join(
        F.broadcast(stop), on="shingle", how="left_anti"
    )
    nb = _band_keys(_signatures_from_shingles(sh)).transform(_stage_eager)
    # Bloom append = OR of a delta bloom built with the SAME (m, k) —
    # updated BEFORE the parquet appends: a crash between the two steps
    # then leaves bloom keys without table rows (harmless false
    # positives) instead of table rows the bloom doesn't know about
    # (false negatives, i.e. future duplicates waved through as
    # 'unique').  (FP rate drifts up as the corpus outgrows the sizing;
    # refresh via save_dedup_artifacts periodically, like the stop
    # list.)
    import os

    if os.path.exists(f"{path}/blooms"):
        blooms = load_blooms(spark, f"{path}/blooms")
        bh, bb = blooms["hashes"], blooms["bands"]
        blooms["hashes"] = bloom_or(
            bh, build_bloom(nh, ["h"], m=bh["m"], k=bh["k"])
        )
        blooms["bands"] = bloom_or(
            bb, build_bloom(nb, ["band", "key"], m=bb["m"], k=bb["k"])
        )
        save_blooms(spark, blooms, f"{path}/blooms")
    # appended shards keep the key-sorted layout save_dedup_artifacts
    # establishes — each append's row groups stay zone-map-tight, so the
    # IN-list pushdown keeps skipping as the corpus grows by appends
    nh.repartition("h").sortWithinPartitions("h").write.mode("append").parquet(
        f"{path}/content_hashes"
    )
    nb.repartition("band", "key").sortWithinPartitions("band", "key").write.mode(
        "append"
    ).parquet(f"{path}/bands")


def incremental_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.4,
    id_: str = "doc_id",
    text: str = "text",
    artifacts: str | None = None,
    use_bloom: bool = True,
) -> DataFrame:
    """Dedup an incoming shard AGAINST an existing corpus (the
    production ingest shape: the corpus is already deduped; only
    new-vs-corpus comparisons matter, never corpus-vs-corpus) →
    (doc_id, status, dup_of) for every new doc, with status ∈
    {'exact_dup', 'near_dup', 'unique'} and dup_of = the smallest
    matching corpus doc id (NULL for unique).

    Exact tier: content-hash equi-join (new side tiny vs corpus — Spark
    broadcasts it).  Near tier: MinHash band keys computed on BOTH sides
    with the same seeds, band-collision equi-join restricted to
    new×corpus, exact-Jaccard verification on collided pairs only.  At
    scale the corpus's signatures/bands are precomputed artifacts —
    pass ``artifacts`` (a :func:`save_dedup_artifacts` path) and the
    corpus-side hashes, stop list, and band keys are READ from parquet
    instead of recomputed from corpus text; only the verify tier still
    touches corpus text, restricted to candidate docs.  Without
    ``artifacts`` everything is recomputed in-lineage so the oracle can
    check the whole composition.

    When the artifacts include Bloom filters (``use_bloom``, default),
    the new side is **pre-gated** before either corpus join: hashes and
    band keys that the bloom rules out (definite non-members) never
    probe the corpus tables.  Lossless by the no-false-negative
    property — gated ≡ ungated bitwise (tested) — and it turns the
    common all-unique batch into O(batch) work.  The gated survivor
    keys (≤ ``pushdown_max_keys``) are additionally pushed into the
    corpus parquet scans as IN-list predicates: the artifact tables are
    written key-sorted (:func:`save_dedup_artifacts`), so parquet
    min/max zone maps skip every row group no surviving key lands in —
    corpus IO per batch scales with the batch's candidate set, not the
    corpus.
    """
    import os

    spark = new_docs.sparkSession
    blooms = None
    if artifacts is not None and use_bloom and os.path.exists(f"{artifacts}/blooms"):
        blooms = load_blooms(spark, f"{artifacts}/blooms")
    pushdown_max_keys = 100_000  # IN-list bound: keep literal lists sane
    nh = normalized(new_docs, text).select(
        F.col(id_).alias("new_id"), F.md5("_norm").alias("h")
    )
    if blooms is not None:
        # checkpoint: the gated survivors are read twice (key collect +
        # join) — don't run the Arrow probe stage twice
        nh = bloom_prefilter(nh, blooms["hashes"], ["h"]).transform(_stage_eager)
    if artifacts is not None:
        ch = spark.read.parquet(f"{artifacts}/content_hashes").select(
            F.col("doc_id").alias("corpus_id"), "h"
        )
        if blooms is not None:
            hk = [
                r["h"]
                for r in nh.select("h").distinct().limit(pushdown_max_keys + 1).collect()
            ]
            if len(hk) <= pushdown_max_keys:
                ch = ch.where(F.col("h").isin(hk))
    else:
        ch = normalized(corpus_docs, text).select(
            F.col(id_).alias("corpus_id"), F.md5("_norm").alias("h")
        )
    exact = (
        nh.join(ch, on="h")
        .groupBy("new_id")
        .agg(F.min("corpus_id").alias("exact_dup_of"))
    )
    # ONE stop list — the corpus's — applied to BOTH sides: df is a
    # corpus-level property (a small incoming shard cannot identify
    # boilerplate), and per-side caps would compute the two sides'
    # signatures over different shingle sets, desyncing band keys and
    # deflating verified Jaccard for boilerplate-heavy docs.
    if artifacts is not None:
        c_stop = spark.read.parquet(f"{artifacts}/stop_shingles")
        c_bands = spark.read.parquet(f"{artifacts}/bands").withColumnRenamed(
            "doc_id", "corpus_id"
        )
    else:
        c_stop = stop_shingles(corpus_docs, id_, text)
        c_sh = raw_shingles(corpus_docs, id_, text).join(
            F.broadcast(c_stop), on="shingle", how="left_anti"
        )
        c_bands = _band_keys(_signatures_from_shingles(c_sh)).withColumnRenamed(
            "doc_id", "corpus_id"
        )
    n_sh = raw_shingles(new_docs, id_, text).join(
        F.broadcast(c_stop), on="shingle", how="left_anti"
    )
    n_bands = _band_keys(_signatures_from_shingles(n_sh)).withColumnRenamed(
        "doc_id", "new_id"
    )
    if blooms is not None:
        n_bands = bloom_prefilter(
            n_bands, blooms["bands"], ["band", "key"]
        ).transform(_stage_eager)
        if artifacts is not None:
            bk = [
                r["key"]
                for r in n_bands.select("key")
                .distinct()
                .limit(pushdown_max_keys + 1)
                .collect()
            ]
            if len(bk) <= pushdown_max_keys:
                # key strings are high-entropy signature concatenations:
                # pushing key alone (zone-map skippable) is as selective
                # as the (band, key) pair the join still enforces
                c_bands = c_bands.where(F.col("key").isin(bk))
    cand = (
        n_bands.join(c_bands, on=["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
        .transform(_stage_eager)  # tiny; stops upstream recompute
    )
    # verify passes re-shingle only docs in candidate pairs (the same
    # candidate-restricted second pass as minhash_lsh_pairs) — the full
    # corpus is shingled exactly once, in the band branch above
    n_cand = raw_shingles(
        new_docs.join(
            F.broadcast(cand.select(F.col("new_id").alias(id_)).distinct()),
            on=id_, how="left_semi",
        ), id_, text,
    ).join(F.broadcast(c_stop), on="shingle", how="left_anti")
    c_cand = raw_shingles(
        corpus_docs.join(
            F.broadcast(cand.select(F.col("corpus_id").alias(id_)).distinct()),
            on=id_, how="left_semi",
        ), id_, text,
    ).join(F.broadcast(c_stop), on="shingle", how="left_anti")
    na = n_cand.select(F.col("doc_id").alias("new_id"), "shingle")
    ca = c_cand.select(F.col("doc_id").alias("corpus_id"), "shingle")
    inter = (
        cand.join(na, on="new_id")
        .join(ca, on=["corpus_id", "shingle"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("inter"))
    )
    n_sizes = n_cand.groupBy("doc_id").agg(F.count("*").alias("na")).withColumnRenamed("doc_id", "new_id")
    c_sizes = c_cand.groupBy("doc_id").agg(F.count("*").alias("nb")).withColumnRenamed("doc_id", "corpus_id")
    near = (
        cand.join(inter, on=["new_id", "corpus_id"], how="left")
        .join(n_sizes, on="new_id")
        .join(c_sizes, on="corpus_id")
        .where(
            F.coalesce(F.col("inter"), F.lit(0)).cast("double")
            / (F.col("na") + F.col("nb") - F.coalesce(F.col("inter"), F.lit(0)))
            >= threshold
        )
        .groupBy("new_id")
        .agg(F.min("corpus_id").alias("near_dup_of"))
    )
    return (
        new_docs.select(F.col(id_).alias("new_id"))
        .join(exact, on="new_id", how="left")
        .join(near, on="new_id", how="left")
        .select(
            F.col("new_id").alias(id_),
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.coalesce("exact_dup_of", "near_dup_of").alias("dup_of"),
        )
    )


def embedding_cosine_pairs_combined(
    emb: DataFrame, threshold: float = 0.9, id_: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """BLAS form of :func:`embedding_cosine_pairs` — value-identical
    output, ~10× faster wall-clock on the same all-pairs semantics.

    The declarative cross join evaluates the cosine as an interpreted
    higher-order-function fold per pair (no codegen for lambdas): at
    N=5k, D=64 that is 11.5M folds and tens of seconds.  Here each
    Arrow batch computes its block of the similarity matrix as ONE
    matmul against the broadcast N×D matrix, SELECTS pairs at
    ``threshold − ε`` (BLAS sum order differs from the SQL fold in low
    bits), and the tiny candidate set is re-scored declaratively with
    the exact same fold expression — the numpy-selects/Spark-scores
    split used by exact_knn_combined, so the output is bit-identical to
    the declarative form (and hashes equal under its oracle).

    The broadcast N×D matrix bounds this to exact-twin scale (N ≲ 10⁶
    at D=64 ≈ 256 MB) — the 100 TB path is
    :func:`embedding_threshold_pairs_ann`, which never broadcasts the
    corpus.  Same contract as the reference's exact tooling vs its ANN
    search split (tools.hpp ground truth vs IVF).
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    rows = emb.select(id_, vec).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.sqrt((M * M).sum(axis=1))
    bB = spark.sparkContext.broadcast((ids, M, norms))
    eps = 1e-9

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, B, bn = bB.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec].tolist(), dtype=np.float64)
            xid = pdf[id_].to_numpy(dtype=np.int64)
            xn = np.sqrt((X * X).sum(axis=1))
            cos = (X @ B.T) / (xn[:, None] * bn[None, :])
            qi, bi = np.nonzero((cos >= threshold - eps) & (xid[:, None] < all_ids[None, :]))
            yield pd.DataFrame({"id_a": xid[qi], "id_b": all_ids[bi]})

    cand = emb.select(id_, vec).mapInPandas(block, "id_a long, id_b long")
    a = emb.select(F.col(id_).alias("id_a"), F.col(vec).alias("va"))
    b = emb.select(F.col(id_).alias("id_b"), F.col(vec).alias("vb"))
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .select("id_a", "id_b", F.expr(V.cosine_sim("va", "vb")).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_r"))
    )

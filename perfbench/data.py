"""Seeded workload inputs, the brute-force oracle and the response checks.

Pure numpy: nothing here touches Spark, so the oracle can be tested on
hand-built cases without a session.

Data model: real embedding corpora are clustered, low-intrinsic-dimension
manifolds inside the ambient space, and that (not the ambient width) is
what makes IVF recall climb gradually with nprobe.  A vector is
``x = W z + eps * n``: ``z`` is drawn around one of ``ncomp`` topic
centres in a ``DIN``-dimensional latent space (Dirichlet topic weights,
within-topic scale ``COMP_SCALE``), ``W`` is an orthonormal ``D x DIN``
frame, and ``n`` is an isotropic ambient noise floor of scale ``EPS``.  The geometry
(frame, centres, weights) is fixed by ``MODEL_SEED``, so recall measures
the engine rather than a redrawn dataset; the run seed draws the samples.
"""

from __future__ import annotations

import numpy as np

MODEL_SEED = 20230601
D, DIN, NCOMP, COMP_SCALE, EPS = 128, 16, 512, 0.55, 0.02
RTOL = 1e-6  # reranked est_dist against the exact distance

# Independent sample streams of one run seed.  Queries never share a
# stream with the corpus, so no query is a corpus member.
CORPUS, QUERIES, APPENDS, DELETES = range(4)


def stream(seed: int, which: int) -> np.random.Generator:
    return np.random.default_rng([seed, which])


class Mixture:
    def __init__(self) -> None:
        g = np.random.default_rng(MODEL_SEED)
        self.frame, _ = np.linalg.qr(g.standard_normal((D, DIN)))
        self.centers = g.standard_normal((NCOMP, DIN))
        self.cum_w = np.cumsum(g.dirichlet(np.full(NCOMP, 2.0)))

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """``n`` float32 vectors of width ``D``."""
        comp = np.minimum(np.searchsorted(self.cum_w, rng.random(n)), NCOMP - 1)
        z = self.centers[comp] + COMP_SCALE * rng.standard_normal((n, DIN))
        x = z @ self.frame.T + EPS * rng.standard_normal((n, D))
        return x.astype(np.float32)


def sq_dists(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Exact float64 squared L2 distances, row-wise (``q`` broadcasts)."""
    diff = np.asarray(x, np.float64) - np.asarray(q, np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def exact_topk(
    queries: np.ndarray, corpus: np.ndarray, ids: np.ndarray, k: int, block: int = 256
) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force float64 top-k → (ids, dists), each ``nq x k``.

    Candidates come from the expanded form ``|x|^2 - 2 q.x``; the best
    ``k + 32`` per query are then re-scored with the exact difference
    form and ordered by (distance, id), so ties break by the lower id.
    """
    x = np.asarray(corpus, np.float64)
    ids = np.asarray(ids, np.int64)
    xn = np.einsum("ij,ij->i", x, x)
    m = min(k + 32, len(ids))
    out_ids = np.empty((len(queries), k), np.int64)
    out_d = np.empty((len(queries), k))
    for s in range(0, len(queries), block):
        q = np.asarray(queries[s:s + block], np.float64)
        approx = xn[None, :] - 2.0 * (q @ x.T)
        cand = np.argpartition(approx, m - 1, axis=1)[:, :m]
        for i, row in enumerate(cand):
            d = sq_dists(q[i], x[row])
            order = np.lexsort((ids[row], d))[:k]
            out_ids[s + i] = ids[row][order]
            out_d[s + i] = d[order]
    return out_ids, out_d


def recall_at_k(found: dict[int, np.ndarray], truth: dict[int, np.ndarray]) -> tuple[int, int]:
    """(hits, possible) of returned ids against the true top-k ids."""
    hits = sum(len(np.intersect1d(found.get(q, ()), t)) for q, t in truth.items())
    return hits, sum(len(t) for t in truth.values())


def group_rows(table) -> dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Engine result (qid, rank, id, est_dist) as Arrow → qid → (rank, id, est_dist)
    arrays, in rank order."""
    qid = table.column("qid").to_numpy()
    rank = table.column("rank").to_numpy()
    rid = table.column("id").to_numpy()
    est = table.column("est_dist").to_numpy()
    order = np.lexsort((rank, qid))
    qid, rank, rid, est = qid[order], rank[order], rid[order], est[order]
    cuts = np.flatnonzero(np.diff(qid)) + 1
    return {
        int(g[0]): (r, i, e)
        for g, r, i, e in zip(
            np.split(qid, cuts), np.split(rank, cuts), np.split(rid, cuts), np.split(est, cuts)
        )
        if len(g)
    }


def check_response(
    groups: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]],
    queries: dict[int, np.ndarray],
    vectors: np.ndarray,
    k: int,
    deleted: frozenset = frozenset(),
) -> list[str]:
    """Problems with one reranked response, one string per bad query.

    Every query gets exactly ``k`` rows with ranks 1..k, distinct ids,
    non-decreasing ``est_dist``, and ``est_dist`` equal to the exact
    squared L2 distance to ``vectors[id]`` within ``RTOL``.  No id in
    ``deleted`` may appear, and no qid that was not asked.
    """
    bad = [f"qid {q}: not a query of this request" for q in groups if q not in queries]
    for q, qv in queries.items():
        if q not in groups:
            bad.append(f"qid {q}: no rows")
            continue
        rank, rid, est = groups[q]
        if len(rid) != k:
            bad.append(f"qid {q}: {len(rid)} rows, want {k}")
            continue
        if not np.array_equal(rank, np.arange(1, k + 1)):
            bad.append(f"qid {q}: ranks {rank.tolist()}")
        elif len(np.unique(rid)) != k:
            bad.append(f"qid {q}: duplicate ids")
        elif np.any(np.diff(est) < 0):
            bad.append(f"qid {q}: est_dist decreases")
        elif deleted and deleted.intersection(rid.tolist()):
            bad.append(f"qid {q}: deleted id returned")
        elif rid.min() < 0 or rid.max() >= len(vectors):
            bad.append(f"qid {q}: unknown id")
        else:
            exact = sq_dists(qv, vectors[rid])
            if np.any(np.abs(est - exact) > RTOL * exact + 1e-9):
                bad.append(f"qid {q}: est_dist is not the exact distance")
    return bad

"""Vector scalar functions as Spark SQL expression text (P1-P9 of SURVEY §2.2).

Everything here is a *pure column expression* — it stays inside Catalyst /
whole-stage codegen (no Python in the hot path), so filters containing these
expressions still push down and the plans survive a 100× scale-up.

Distance kernels mirror ``inc/utils/space.hpp:18-99`` (L2Sqr / IP).  All
arithmetic is DOUBLE, folded strictly left-to-right so the DuckDB oracle
(`extended_rabitq_spark.oracle`) reproduces the sums bitwise: float→double
conversion is exact and IEEE addition is deterministic for a fixed order.

Each builder takes SQL *text* fragments for the operand columns and returns
SQL text; wrap with ``F.expr(...)`` in DataFrame code.
"""

from __future__ import annotations


def _unrolled_fold(term_fn, dim: int) -> str:
    """Left-fold ``((0.0 + t_0) + t_1) + ...`` unrolled to plain
    arithmetic over array subscripts.

    Why (r10, guide §1.2 per-task work): Catalyst's higher-order
    functions (``aggregate``/``zip_with``/``transform``) are
    CodegenFallback — every element evaluates a lambda interpreter-side
    with boxing.  The unrolled form is ordinary codegen'd arithmetic
    (measured ~3× faster per row at dim=64) and performs THE SAME
    IEEE double additions in THE SAME left-to-right order, so results
    are bitwise identical to the HOF form (asserted in
    tests/test_sqlfuncs.py) and oracle parity is untouched.  Element
    access is ``get(a, i)`` — the ANSI-safe 0-based accessor: a
    too-short array yields NULL terms and hence a NULL total, exactly
    the HOF's NULL-padded zip semantics (a bare subscript would THROW
    under ANSI mode, Spark 4's default).  Callers pass ``dim`` only
    where the vector width is a known contract (index meta, probed
    table dimensionality).

    Measured guidance (fresh-JVM A/B, 1M pairs, dim=64): unrolled
    l2sq 2.8× FASTER (0.19s vs 0.53s median); unrolled dot/cosine
    SLOWER (dot 2.0s vs 0.37s) — the repeated (a[i]−b[i]) term
    splits/JITs well, plain-product folds do not — so production call
    sites unroll the l2 kernel only (``operators.knn.distance_col`` and
    ``l2sq`` with a ``dim``: exact KNN, IVF assignment and probe
    windows, PQ ADC).  The RaBitQ exact rerank and the Arrow scorers'
    probe selection run this same fold in numpy
    (``operators.rabitq._l2_fold``), bitwise equal."""
    e = "CAST(0.0 AS DOUBLE)"
    for i in range(dim):
        e = f"({e} + {term_fn(i)})"
    return e


def l2sq(a: str, b: str, dim: int | None = None) -> str:
    """Squared L2 distance (``L2Sqr``, inc/utils/space.hpp:18-47)."""
    if dim is not None:
        return _unrolled_fold(
            lambda i: (
                f"(CAST(get({a}, {i}) AS DOUBLE) - CAST(get({b}, {i}) AS DOUBLE)) * "
                f"(CAST(get({a}, {i}) AS DOUBLE) - CAST(get({b}, {i}) AS DOUBLE))"
            ),
            dim,
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot(a: str, b: str, dim: int | None = None) -> str:
    """Inner product (``IP``, inc/utils/space.hpp:49-99)."""
    if dim is not None:
        return _unrolled_fold(
            lambda i: f"CAST(get({a}, {i}) AS DOUBLE) * CAST(get({b}, {i}) AS DOUBLE)",
            dim,
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def vec_sum(a: str) -> str:
    """Σ x[i] (inc/utils/space.hpp:530-557)."""
    return f"aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE))"


def norm(a: str) -> str:
    """Euclidean norm ‖x‖."""
    return f"sqrt({l2sq_self(a)})"


def l2sq_self(a: str, dim: int | None = None) -> str:
    """‖x‖² as a self-dot (kept separate so text matches oracle exactly)."""
    if dim is not None:
        return _unrolled_fold(
            lambda i: f"CAST(get({a}, {i}) AS DOUBLE) * CAST(get({a}, {i}) AS DOUBLE)",
            dim,
        )
    return (
        f"aggregate({a}, CAST(0.0 AS DOUBLE), "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )


def cosine_sim(a: str, b: str, dim: int | None = None) -> str:
    """Cosine similarity ⟨a,b⟩ / (‖a‖‖b‖) — the reference supports cosine by
    L2-normalizing inputs first (python/utils/preprocess.py:3-5); we expose it
    directly as the idiomatic Spark expression."""
    return (
        f"({dot(a, b, dim)}) / "
        f"(sqrt({l2sq_self(a, dim)}) * sqrt({l2sq_self(b, dim)}))"
    )


def cosine_sim_staged(a: str, b: str, na: str, nb: str) -> str:
    """:func:`cosine_sim` with the two per-row norms staged as columns
    (``na``/``nb`` hold ``sqrt(l2sq_self(x))`` computed in the row's own
    projection).  Bitwise-identical: the norm is a deterministic function
    of the row, and the division tree ``dot / (na * nb)`` is exactly the
    one cosine_sim emits — only WHERE the norms are computed moves (once
    per row instead of once per pair).  Use in quadratic pair stages:
    per-pair array folds drop 3 → 1 (guide §2.3 — shuffle/compute the
    lightweight proxy, not the recomputation)."""
    return f"({dot(a, b)}) / ({na} * {nb})"


def pad(a: str, target_dim: int, dim: int) -> str:
    """Zero-pad to the next multiple of 64 (P1, inc/utils/tools.hpp:8-14)."""
    if target_dim == dim:
        return a
    return f"concat({a}, array_repeat(CAST(0.0 AS FLOAT), {target_dim - dim}))"


def sub(a: str, b: str) -> str:
    """Element-wise a−b in DOUBLE (residual P3, inc/index/Quantizer.hpp:344-350)."""
    return f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"


def l2_normalize(a: str) -> str:
    """x/‖x‖ with the reference's zero-norm fallback: a zero vector maps to
    the constant 1/√D vector (inc/utils/space.hpp:749-778)."""
    n = norm(a)
    return (
        f"CASE WHEN {n} < 1e-20 THEN transform({a}, x -> 1.0 / sqrt(CAST(size({a}) AS DOUBLE))) "
        f"ELSE transform({a}, x -> CAST(x AS DOUBLE) / {n}) END"
    )


def sign_bits(a: str) -> str:
    """1-bit sign binarization: bit = (x > 0) (P5, inc/index/Quantizer.hpp:356-361).

    Exact zeros get bit 0 (strict ``>``)."""
    return f"transform({a}, x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS INT))"


def popcount(a: str) -> str:
    """Number of 1-bits = Σ bits (P9, inc/utils/space.hpp:562-569)."""
    return f"CAST(aggregate({sign_bits(a)}, 0, (acc, v) -> acc + v) AS BIGINT)"


def hamming(a: str, b: str) -> str:
    """Hamming distance between the sign codes of two vectors: the count
    of dimensions whose sign bits differ (strict ``> 0`` on both sides,
    matching :func:`sign_bits`).  Integer end-to-end — no float folds."""
    return (
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CASE WHEN (x > 0) != (y > 0) THEN 1 ELSE 0 END), "
        f"0, (acc, v) -> acc + v) AS BIGINT)"
    )

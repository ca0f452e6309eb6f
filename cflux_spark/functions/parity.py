"""Cross-engine float-parity helpers (round 12, VERDICT r11 items 1–2).

The oracle gate hash-compares doubles produced independently by Spark
(JVM Math.log/exp) and DuckDB (C libm). IEEE 754 defines +,−,×,÷,sqrt
as correctly rounded — those are bit-identical across engines given
bit-identical inputs — but ln/exp/pow/log2 are NOT: each call may
differ in the last ulp between libms. A value that ACCUMULATES many
such calls (a Σ ln p dot product, a per-token avg of logs) can drift
~n·ulp, enough to land within the drift of a decimal rounding
boundary and flip a round(x, k) differently per engine — exactly the
round-11 `q_quality_classifier` driver failure.

Discipline (applied to every hash-compared value in the catalog):

1. QUANTIZE EACH TRANSCENDENTAL AT ITS CALL SITE to integer fixed
   point: ``fixed_log(expr)`` = cast(round(expr·1e9) as long). The
   single rounding absorbs the ≤ few-ulp cross-libm difference unless
   that one call lands within ulps of a half-quantum boundary
   (probability ~1e-9 PER CALL SITE VALUE, not per accumulated doc —
   and independent of how many rows sum it).
2. ACCUMULATE IN INTEGERS: sums/dot products of quantized values are
   exact and order-independent — immune to both libm variance and
   shuffle-order float-sum nondeterminism.
3. DIVIDE ONCE AT THE END: ``unfix(col)`` = col / 1e9 — integer→double
   conversion and division are correctly rounded, so both engines
   emit the identical double.
4. A transcendental of a COMPUTED value (σ(log_odds), exp(Σ…)) must
   either take a bit-identical argument built by rules 1–3 and be the
   single final call (documented flip probability ≤ ~4·ulp/grid per
   row), or stay engine-side, excluded from hashed projections.

The SQL mirror of ``fixed_log`` is
``CAST(round(expr * 1000000000.0) AS BIGINT)`` — DuckDB ``round`` and
Spark ``F.round`` both round half away from zero. ``scripts/
float_margin_probe.py`` measures the realized boundary margins;
SCALE.md records the table.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# log-space quantum 1e-9: coarse enough that a few ulps of cross-libm
# disagreement on ln/exp outputs (≤ ~1e-13 absolute for |x| ≤ 1e3)
# cannot straddle a half-quantum boundary in practice; fine enough
# that per-token quantization error (≤ 5e-10) stays invisible at the
# 4–6 dp output roundings even summed over 10^4-gram documents.
FIXED_SCALE_LOG = 1_000_000_000

#: the SQL literal mirroring FIXED_SCALE_LOG
SQL_SCALE_LOG = "1000000000.0"


def fixed_log(expr: Column) -> Column:
    """Quantize a (usually transcendental) double expression to
    integer fixed point — cast(round(expr · 1e9) as long). Sums of
    these are exact and order-independent in every engine."""
    return F.round(expr * F.lit(float(FIXED_SCALE_LOG))).cast("long")


def unfix(expr: Column) -> Column:
    """Back to double: one correctly-rounded division, bit-identical
    across engines given identical integer input."""
    return expr / F.lit(float(FIXED_SCALE_LOG))


#: ln 2 as the correctly-rounded double literal (= what both Spark's
#: strtod and DuckDB's strtod parse "0.6931471805599453" to — shortest
#: round-trip repr of the double nearest ln 2)
_LN2_LITERAL = "0.6931471805599453E0"


def portable_ln_ratio(a: str, b: str) -> str:
    """SQL text computing ln(``a``/``b``) for POSITIVE INTEGER (≤ 2^53)
    expressions ``a``, ``b`` using ONLY operations IEEE 754 defines as
    correctly rounded (int shifts/compares, int→double casts, double
    + − × ÷) — so Spark and DuckDB evaluate it to the BIT-IDENTICAL
    double, independent of either engine's libm.

    Why this exists (round 13, VERDICT r12 item 1): every rounding
    margin in the q_quality_classifier pipeline measured ≥ 7e-11 —
    orders above a correctly-rounded libm's ≤ 1-2 ulp variance — yet
    the driver environment flipped the query's hash in three straight
    rounds. The classifier is the ONE catalog query whose hashed float
    (log_odds = Σ cnt·w_fixed / 1e6) carries its transcendental
    call-sites' integer quanta UNROUNDED into the output, so it alone
    is exposed to a libm whose ln strays further than ours (every
    other query's 4-6 dp output rounding absorbs call-site flips).
    Building the 259 weight/prior ln values from basic ops removes the
    engine-libm from the lineage entirely: zero flip channel instead
    of a small one.

    Method: exact range reduction, then the atanh series.

        k0 = bitlen(a) − bitlen(b);  A, B = a, b shifted so A/B ∈ (½, 2)
        double/halve (exact integer ops) until m = A/B ∈ [0.75, 1.5)
        z = (m−1)/(m+1), |z| ≤ 0.2
        ln m = 2z·(1 + z²/3 + z⁴/5 + … + z¹⁸/19)   (tail < 3e-16)
        ln(a/b) = ln m + k·ln2                     (ln2 a shared literal)

    Absolute error vs true ln ≤ ~1e-15 — five orders under the
    smallest realized weight margin, so switching an existing libm
    call site to this form is value-preserving (verified bit-exact at
    sf0.001/0.01/0.1); and both engines agree by construction because
    every op in the tree is correctly rounded and the tree is
    identical text."""
    steps, out = portable_ln_ratio_steps(a, b)
    # fold the step chain into one expression via textual substitution
    # INNERMOST-FIRST; steps reference each other at most once apiece
    # except z2 (bounded: the Horner chain names z2, not its body).
    # Whole-word matches only: _pl_k is a prefix of _pl_k0, _pl_z of _pl_z2
    expr = out
    for name, body in reversed(steps):
        expr = re.sub(rf"\b{re.escape(name)}\b", lambda _m: body, expr)
    return expr


def portable_ln_ratio_steps(
    a: str, b: str, prefix: str = "_pl"
) -> tuple[list[tuple[str, str]], str]:
    """The step-chain form of :func:`portable_ln_ratio`: returns
    (steps, result_expr) where ``steps`` is an ordered list of
    (column_name, sql_expr) — each expr references only ``a``/``b``
    and EARLIER step names — and ``result_expr`` references the last
    steps. Callers materialize the steps as named projections (Spark:
    chained selectExpr; SQL oracle: nested subselects) so the
    expression tree stays linear-sized; evaluation order, and hence
    the produced double, is identical in both engines."""
    p = prefix
    steps: list[tuple[str, str]] = [
        (f"{p}_k0",
         f"(length(bin(CAST(({a}) AS BIGINT))) - length(bin(CAST(({b}) AS BIGINT))))"),
        (f"{p}_A",
         f"(CAST(({a}) AS BIGINT) << (CASE WHEN {p}_k0 < 0 THEN -{p}_k0 ELSE 0 END))"),
        (f"{p}_B",
         f"(CAST(({b}) AS BIGINT) << (CASE WHEN {p}_k0 > 0 THEN {p}_k0 ELSE 0 END))"),
        # m0 = A/B ∈ (½, 2); double the short side so m ∈ [0.75, 1.5)
        (f"{p}_m",
         f"(CAST((CASE WHEN 4 * {p}_A < 3 * {p}_B THEN {p}_A + {p}_A ELSE {p}_A END) AS DOUBLE)"
         f" / CAST((CASE WHEN {p}_A + {p}_A >= 3 * {p}_B THEN {p}_B + {p}_B ELSE {p}_B END) AS DOUBLE))"),
        (f"{p}_k",
         f"({p}_k0 + (CASE WHEN {p}_A + {p}_A >= 3 * {p}_B THEN 1"
         f" WHEN 4 * {p}_A < 3 * {p}_B THEN -1 ELSE 0 END))"),
        (f"{p}_z", f"(({p}_m - 1.0E0) / ({p}_m + 1.0E0))"),
        (f"{p}_z2", f"({p}_z * {p}_z)"),
    ]
    # Horner over z² with odd-reciprocal coefficients as double
    # DIVISIONS of exact literals (correctly rounded → identical in
    # both engines); |z| ≤ 0.2 ⇒ truncation tail < 3e-16
    horner = "(1.0E0 / 19.0E0)"
    for c in (17, 15, 13, 11, 9, 7, 5, 3):
        horner = f"((1.0E0 / {c}.0E0) + ({p}_z2 * {horner}))"
    out = (
        f"((2.0E0 * {p}_z * (1.0E0 + ({p}_z2 * {horner})))"
        f" + (CAST({p}_k AS DOUBLE) * {_LN2_LITERAL}))"
    )
    return steps, out

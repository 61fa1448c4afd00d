"""Cross-engine float-determinism helpers shared by the catalog plans.

Double summation is order-dependent; Spark's partial aggregation and
DuckDB's sequential scan can land a sum on opposite sides of a rounding
boundary (the flake ADVICE.md r1 flagged). The fix mirrors the TPC-H
`_dec` pattern: cast each element to DECIMAL once (deterministic — no
binary double sits exactly on a decimal rounding boundary, since that
would need a factor of 5^k in the denominator), sum in the decimal
domain (order-independent), round there, and only then cast to double.

DECIMAL(18,6) keeps 6 fractional digits per element; the rounded sum at
scale 4 stays far below 2^53 when integer-scaled, so the final
decimal->double cast is exact in both engines (see memory: decimal cast
trap).
"""

from __future__ import annotations

from pyspark.sql import functions as F


#: columns proven non-negative and exactly-2dp in the testdata (pinned
#: by tests/test_money_sums.py, incl. the decimal(18,2) round-trip
#: check). The cents fast path is restricted BY CONSTRUCTION to these
#: (ADVICE r19): a new caller must either extend the allowlist (and the
#: test matrix) or use a DECIMAL(18,6) sum.
CENTS_SAFE_COLS = frozenset({"value", "l_quantity"})


def _cents_sum(col: str) -> F.Column:
    """Exact sum of a 2dp column as integer cents (one long aggregate).

    r19 (guide §1.2 per-task work): the engine-side columns this module
    sums (`events.value`, `l_quantity`) are verified non-negative and
    exactly 2dp in every testdata generation, so (x*100 + 0.5) truncated
    is the exact cents value (double-multiply error is sub-ulp, far
    below the 0.5 margin; truncation == floor for non-negative) and the
    long sum equals the DECIMAL(18,6) sum exactly. The accumulator is a
    plain codegen long instead of a per-row Decimal op. Overflow bound:
    value <= ~1e4 -> cents <= 1e6; 6e11 rows at 100 TB -> 6e17 << 2^63.
    A column that can be negative or carry >2dp must use the decimal
    path instead — enforced at plan-construction time below (zero
    per-row cost)."""
    if col not in CENTS_SAFE_COLS:
        raise ValueError(
            f"dec_sum/dec_avg cents fast path is only proven for "
            f"{sorted(CENTS_SAFE_COLS)} (non-negative, exact 2dp); "
            f"{col!r} must use a DECIMAL(18,6) sum or be added to "
            f"CENTS_SAFE_COLS with a test_money_sums row."
        )
    return F.sum((F.col(col) * 100 + F.lit(0.5)).cast("long"))


def dec_sum(col: str, scale: int = 4) -> F.Column:
    """Order-independent double sum, bit-identical to dec_sum_sql:
    exact cents long sum, recombined and rounded in the decimal domain
    (same exact value as sum(DECIMAL(18,6)) under the 2dp precondition
    — see _cents_sum), cast to double last."""
    return (
        F.round(
            _cents_sum(col).cast("decimal(30,0)") * F.lit("0.01").cast("decimal(3,2)"),
            scale,
        ).cast("double")
    )


def dec_avg(col: str, scale: int = 4) -> F.Column:
    """Deterministic avg: exact decimal-domain sum -> double, one IEEE
    divide (value-identical to the DECIMAL(18,6) formulation)."""
    return F.round(
        (_cents_sum(col).cast("decimal(30,0)") * F.lit("0.01").cast("decimal(3,2)"))
        .cast("double")
        / F.count("*"),
        scale,
    )


def dec_sum_sql(col: str, scale: int = 4) -> str:
    """DuckDB twin of dec_sum (bit-identical result)."""
    return f"CAST(round(sum(CAST({col} AS DECIMAL(18,6))), {scale}) AS DOUBLE)"

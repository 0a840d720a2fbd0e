"""Fixed-point SQL builders: the two rules that keep money and ratio
columns hash-identical between Spark and the DuckDB oracles.

- :func:`cents_sql` — half-up rounding of a DOUBLE/DECIMAL amount to
  integer cents (or any power-of-ten scale) before any SUM, so no
  float is ever accumulated.
- :func:`scaled_ratio_sql` — an integer ratio in basis points, with
  the numerator widened to DECIMAL(38,0) so ``num * scale`` cannot
  overflow BIGINT, then truncated toward zero by ``DIV``.

Like :mod:`stats`, each returns SQL text for ``F.expr`` or for
embedding in a larger expression. The oracles spell the same rules
out by hand: an oracle built from these helpers would check nothing.
"""

from __future__ import annotations


def cents_sql(x: str, scale: int = 100) -> str:
    """``x`` rounded half-up to a BIGINT count of ``1/scale`` units."""
    scaled = x if scale == 1 else f"{x} * {scale}"
    return f"CAST(floor({scaled} + CAST(0.5 AS DOUBLE)) AS BIGINT)"


def scaled_ratio_sql(num: str, den: str, scale: int = 10000) -> str:
    """``num * scale / den`` as BIGINT, truncated toward zero."""
    return (
        f"CAST((CAST({num} AS DECIMAL(38,0)) * {scale}) DIV {den}"
        " AS BIGINT)"
    )

"""The exact-sum convention (reference gsum, src/gsumm.c:348): a double
aggregate is cast to DECIMAL(18, scale) in both Spark and the DuckDB
oracle, summed exactly (decimal addition is order-independent, so the
result does not depend on partial-aggregation order), then cast back to
DOUBLE. ``scale`` is 4 unless a site needs 2 or 6.

Spark half: ``dec`` is the addend cast, ``dsum`` the whole rule.

Oracle half: ``sql_dec`` is the addend cast, ``sql_double`` the back
cast, ``sql_dsum`` the whole rule, and ``sql_round`` is Spark's
``F.round`` of a double. They reproduce Spark's casts, which DuckDB
1.0.0's own casts (and its ROUND) do not:

- Spark's addend cast rounds HALF_UP on ``Double.toString(x)``, the
  shortest decimal that reads back as x. DuckDB scales the binary double
  in floating point instead: ``1314.51625`` gives ``.5162`` there and
  ``.5163`` in Spark, and ``43123705059314.0`` gives ``...313.9968``.
  ``sql_dec`` parses DuckDB's VARCHAR of x, which is the same shortest
  repr; parsing a plain decimal string rounds HALF_UP. DuckDB prints
  exponent form exactly when 0 < |x| < 1e-4 (or |x| >= 1e16, past every
  cap), and misrounds such a string when the parse drops digits
  (``'9e-06'`` -> ``0.0001`` at scale 4). Those rows take a slower path:
  a parse with 20 more fractional digits, so none is dropped, then ROUND
  (half away from zero; narrowing one DECIMAL to another would
  truncate). The integer digits stay 18 - scale on both paths, so the
  overflow cap is Spark's.
- Spark's back cast is correctly rounded. DuckDB converts the unscaled
  integer through a double, which is inexact once |sum| * 10^scale
  passes 2^53 (|sum| > 9.007e11 at scale 4). ``sql_double`` goes through
  the exact decimal string, which DuckDB reads correctly rounded.

With both halves matched, the only bound left is the per-addend cap,
|x| < 10^(18 - scale): both engines raise at it, never return NULL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(e: Column | str, scale: int = 4) -> Column:
    """Spark addend cast: double column or name -> DECIMAL(18, scale)."""
    c = F.col(e) if isinstance(e, str) else e
    return c.cast(f"decimal(18,{scale})")


def dsum(e: Column | str, scale: int = 4) -> Column:
    """Spark exact sum of a double column or name -> double."""
    return F.sum(dec(e, scale)).cast("double")


def sql_dec(expr: str, scale: int = 4) -> str:
    """Oracle addend cast: DuckDB double expression -> DECIMAL(18, scale),
    rounded as Spark rounds it."""
    v = f"CAST({expr} AS VARCHAR)"
    wide = f"CAST({v} AS DECIMAL(38,{20 + scale}))"
    return (
        f"CASE WHEN abs({expr}) < 1e-4"
        f" THEN CAST(ROUND({wide}, {scale}) AS DECIMAL(18,{scale}))"
        f" ELSE CAST({v} AS DECIMAL(18,{scale})) END"
    )


def sql_double(expr: str) -> str:
    """Oracle back cast: DuckDB DECIMAL expression -> correctly rounded
    DOUBLE."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str, scale: int = 4) -> str:
    """Oracle exact sum of a DuckDB double expression -> DOUBLE."""
    return sql_double(f"SUM({sql_dec(expr, scale)})")


def sql_round(expr: str, n: int) -> str:
    """Oracle ROUND of a DuckDB double expression to ``n`` places, as
    Spark's ``F.round`` does it: HALF_UP on ``Double.toString``, the
    shortest decimal string. DuckDB's ROUND scales the binary double,
    so ``ROUND(1314.51625, 4)`` is ``.5162`` there and ``.5163`` in
    Spark. Same cap as ``sql_dec``: |x| < 10^(18 - n)."""
    return sql_double(sql_dec(expr, n))

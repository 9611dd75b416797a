"""The exact-sum convention has one home, data_table_spark/exact.py.
These checks need no Spark session: the guard fails if a query module
spells a DECIMAL cast itself, and the oracle half is pinned against
Spark's casts on the values where DuckDB's own casts differ."""

from __future__ import annotations

import re
from decimal import Decimal
from pathlib import Path

import duckdb
import pytest

from data_table_spark.exact import sql_dec, sql_double, sql_round
from data_table_spark.queries import ORACLE

_PKG = Path(__file__).resolve().parent.parent / "data_table_spark"


def _helper_pattern(scale: int) -> re.Pattern:
    """sql_dec's output for any expression at ``scale``."""
    parts = [re.escape(p) for p in sql_dec("\0", scale).split("\0")]
    return re.compile(parts[0] + "(.+?)" + r"\1".join(parts[1:]), re.S)


def test_oracle_decimal_casts_go_through_the_helper():
    patterns = [_helper_pattern(s) for s in range(19)]
    spelled = []
    for name, sql in ORACLE.items():
        for p in patterns:
            sql = p.sub("", sql)
        if "DECIMAL" in sql.upper():
            spelled.append(name)
    assert not spelled, f"ORACLE strings casting to DECIMAL by hand: {spelled}"


# decimal casts that are not the float-sum rule, each with its reason
_DECIMAL_CAST_ALLOWED = {
    # overflow-safe sum of integer cluster ids (a convergence checksum)
    ("dedup.py", 'F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")'),
}


def test_spark_decimal_casts_go_through_the_helper():
    sources = (
        sorted(_PKG.glob("queries*.py"))
        + [_PKG / "streaming" / "__init__.py"]
        + sorted((_PKG / "pipeline").glob("*.py"))
    )
    cast = re.compile(r"""\.cast\(\s*["']decimal""", re.I)
    spelled = [
        f"{p.name}:{i}"
        for p in sources
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if cast.search(line) and (p.name, line.strip()) not in _DECIMAL_CAST_ALLOWED
    ]
    assert not spelled, f"Spark DECIMAL casts outside exact.dec: {spelled}"


# Spark 4.1.2's CAST(x AS DECIMAL(18, scale)), recorded on each value
@pytest.mark.parametrize("x, scale, spark", [
    (1314.51625, 4, "1314.5163"),            # DuckDB's own cast: .5162
    (-1314.51625, 4, "-1314.5163"),
    (43123705059314.0, 4, "43123705059314.0000"),  # DuckDB: ...313.9968
    (9e-06, 4, "0.0000"),                    # '9e-06' parses as 0.0001
    (-7e-06, 4, "0.0000"),
    (5e-05, 4, "0.0001"),
    (1.25e-05, 6, "0.000013"),
    (2.5e-06, 6, "0.000003"),
    (0.005, 2, "0.01"),
])
def test_oracle_addend_cast_rounds_as_spark(x, scale, spark):
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {sql_dec('x', scale)} FROM (SELECT ?::DOUBLE AS x)", [x]
    ).fetchone()[0]
    assert got == Decimal(spark)


def test_oracle_back_cast_is_correctly_rounded():
    con = duckdb.connect()
    d = "CAST('900719925475.0001' AS DECIMAL(38,4))"
    assert con.execute(f"SELECT {sql_double(d)}").fetchone()[0] == 900719925475.0001
    # DuckDB's own cast goes through the unscaled integer as a double
    assert con.execute(f"SELECT CAST({d} AS DOUBLE)").fetchone()[0] == 900719925475.0


# Spark 4.1.2's F.round(x, n) on a double, recorded on each value
@pytest.mark.parametrize("x, n, spark", [
    (1314.51625, 4, 1314.5163),              # DuckDB's own ROUND: .5162
    (-1314.51625, 4, -1314.5163),
    (2.5, 0, 3.0),
    (1.0000005, 6, 1.000001),
    (9e-06, 4, 0.0),
    (5e-05, 4, 0.0001),
])
def test_oracle_round_rounds_as_spark(x, n, spark):
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {sql_round('x', n)} FROM (SELECT ?::DOUBLE AS x)", [x]
    ).fetchone()[0]
    assert got == spark


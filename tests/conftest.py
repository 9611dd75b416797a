from __future__ import annotations

import os

import pytest

from data_table_spark import get_spark, load_tables
from data_table_spark.core import query_scope

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Driver-verify fast path (see pytest.ini): node ids listed in
# slow_tests.txt (the measured >=5s tail of the full run) get the
# `slow` marker at collection time, and the default `-m "not slow"`
# deselects them. Tests may also carry @pytest.mark.slow directly.
_SLOW_LIST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_LIST) as fh:
            slow_ids = {
                ln.strip() for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except FileNotFoundError:
        return
    # node ids in the list are rootdir-relative ("tests/test_x.py::t");
    # normalize both sides to "<basename>::<test>" so the match holds
    # regardless of the invocation directory
    norm = {i.split("/")[-1] for i in slow_ids}
    for item in items:
        if item.nodeid.split("/")[-1] in norm:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(autouse=True)
def _query_scope():
    """Every test runs inside ``core.query_scope``, as a caller sharing
    one session would: the intermediates a test materializes are freed
    when it ends instead of piling up over the suite."""
    with query_scope():
        yield


@pytest.fixture(scope="session")
def spark():
    s = get_spark("data-table-spark-tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def union_find_labels(nodes, edges):
    """Driver-side connected components: {node: min node of its
    component} — the independent reference for the CC labels."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def assert_same(spark_df, duck_con, sql, sort_by=None, rel_tol=1e-9):
    """Differential oracle: Spark result vs DuckDB result (the reference's
    optimize-level differential pattern, SURVEY §5.2)."""
    import math

    sdf = spark_df.df if hasattr(spark_df, "df") else spark_df
    got = sdf.toPandas()
    exp = duck_con.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns), (
        f"columns differ: {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    cols = sorted(got.columns)
    got = got[cols]
    exp = exp[cols]
    assert len(got) == len(exp), f"row count {len(got)} vs {len(exp)}"
    key = sort_by or cols
    got = got.sort_values(by=key, ignore_index=True)
    exp = exp.sort_values(by=key, ignore_index=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(got[c], exp[c])):
            a_nan = isinstance(a, float) and math.isnan(a)
            b_nan = isinstance(b, float) and math.isnan(b)
            if a_nan or b_nan or a is None or b is None:
                ok = (a_nan and b_nan) or (
                    (a is None or a_nan) and (b is None or b_nan)
                )
                assert ok, f"row {i} col {c}: {a!r} vs {b!r}"
                continue
            if isinstance(a, float) and isinstance(b, float):
                assert math.isclose(a, b, rel_tol=rel_tol, abs_tol=1e-9), (
                    f"row {i} col {c}: {a!r} vs {b!r}"
                )
            else:
                assert str(a) == str(b), f"row {i} col {c}: {a!r} vs {b!r}"

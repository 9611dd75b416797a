"""The library owns what it leaves in a shared session.

- ``core.materialize`` is the one place an intermediate is checkpointed
  (a no-Spark guard over the package source);
- ``core.query_scope`` frees exactly the intermediates materialized
  inside it: not a caller's cached table, not another thread's scope;
- a streaming run drops its memory-sink view before it returns;
- Python workers import the package whatever the driver's cwd and
  PYTHONPATH.
"""

from __future__ import annotations

import ast
import contextvars
import os
import re
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from data_table_spark.core import materialize, query_scope

_PKG = Path(__file__).resolve().parent.parent / "data_table_spark"


def _function_lines(path: Path, name: str) -> range:
    tree = ast.parse(path.read_text())
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == name
    )
    return range(fn.lineno, fn.end_lineno + 1)


def test_checkpoints_go_through_materialize():
    pinning = re.compile(r"localCheckpoint|\.persist\(|\.cache\(")
    core = _PKG / "core.py"
    allowed = _function_lines(core, "materialize")
    spelled = [
        f"{p.relative_to(_PKG)}:{i}"
        for p in sorted(_PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pinning.search(line) and not (p == core and i in allowed)
    ]
    assert not spelled, f"checkpoints outside core.materialize: {spelled}"


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_query_scope_frees_only_what_it_materialized(spark):
    mine = spark.range(20).cache()
    mine.count()
    before = _persisted(spark)
    try:
        with query_scope() as pinned:
            a = materialize(spark.range(100))
            b = materialize(a.filter("id % 2 = 0"))
            assert b.count() == 50
            assert len(pinned) == 2
            assert _persisted(spark) - before == {r.id() for r in pinned}
        assert _persisted(spark) == before
    finally:
        mine.unpersist(True)


def test_materialize_without_a_scope_is_a_plain_lazy_checkpoint(spark):
    before = _persisted(spark)
    # a fresh context: no scope open, whatever the caller has open
    out = contextvars.Context().run(materialize, spark.range(10))
    rdd = out._jdf.logicalPlan().rdd()
    try:
        assert _persisted(spark) - before == {rdd.id()}
        assert out.count() == 10
    finally:
        rdd.unpersist(True)


def test_query_scopes_on_threads_stay_apart(spark):
    """More threads than cores, each in its own scope on the shared
    session: while every scope is open, every thread's intermediate is
    pinned; each scope frees exactly its own."""
    n = 6
    all_open = threading.Barrier(n + 1, timeout=120)
    checked = threading.Barrier(n + 1, timeout=120)
    pinned_by: dict[int, set[int]] = {}

    def worker(i):
        with query_scope() as pinned:
            assert materialize(spark.range(10 * (i + 1))).count() == 10 * (i + 1)
            pinned_by[i] = {r.id() for r in pinned}
            all_open.wait()
            checked.wait()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    try:
        for t in threads:
            t.start()
        all_open.wait()
        ids = [pinned_by[i] for i in range(n)]
        assert all(len(x) == 1 for x in ids)
        assert len(set().union(*ids)) == n
        assert set().union(*ids) <= _persisted(spark)
        checked.wait()
    except BaseException:
        all_open.abort()  # unblock the workers before joining them
        checked.abort()
        raise
    finally:
        sys.setswitchinterval(interval)
        for t in threads:
            t.join(120)
    assert not any(t.is_alive() for t in threads)
    assert not set().union(*pinned_by.values()) & _persisted(spark)


def test_streaming_run_leaves_no_sink_view(spark):
    from conftest import SF_DIR
    from data_table_spark.queries import QUERIES

    out = QUERIES["stream_tumbling_agg"](spark, SF_DIR)
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if n.startswith("stream_out_")], names
    # the frame was resolved before the view was dropped
    assert out.count() > 0


@pytest.mark.slow
def test_python_workers_import_package_outside_checkout(tmp_path):
    """A driver script that runs outside the checkout, with PYTHONPATH
    unset, and only puts the checkout on its own sys.path: the Python
    workers of a UDTF query must still import data_table_spark."""
    from conftest import SF_DIR

    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(_PKG.parent)!r})\n"
        "from data_table_spark import get_spark\n"
        "from data_table_spark.queries import QUERIES\n"
        "spark = get_spark('worker-import')\n"
        f"rows = QUERIES['dogroups_udtf'](spark, {SF_DIR!r}).collect()\n"
        "print('ROWS', len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS " in out.stdout and "ROWS 0" not in out.stdout

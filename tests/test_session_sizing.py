"""The one session-sizing rule (``session.session_size``) and the guard
that keeps it the only one.

- With neither env knob set, the rule yields ``local[N]`` for the CPUs
  in this process's affinity mask and a driver heap of a quarter of
  MemTotal, at least 1024m. ``SPARK_GRAFT_CPUS`` and
  ``SPARK_GRAFT_DRIVER_MEM`` pass through verbatim.
- Under ``data_table_spark/``, ``tools/`` and ``bench.py`` only
  ``session.py`` sets ``spark.driver.memory`` or a ``local[...]``
  master. The named exception is the ``--vanilla`` session of
  ``tools/check_correctness.py``, which mirrors a default SparkSession
  on purpose.

No SparkSession needed.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

from data_table_spark.session import session_size

REPO = Path(__file__).resolve().parent.parent


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        kb = next(ln for ln in f if ln.startswith("MemTotal:")).split()[1]
    return int(kb) // 1024


def test_session_size_follows_the_machine():
    got = session_size({})
    assert got == {
        "spark.master": f"local[{len(os.sched_getaffinity(0))}]",
        "spark.driver.memory": f"{max(1024, _mem_total_mb() // 4)}m",
    }


def test_session_size_env_is_verbatim():
    env = {"SPARK_GRAFT_CPUS": "32", "SPARK_GRAFT_DRIVER_MEM": "48g"}
    assert session_size(env) == {
        "spark.master": "local[32]", "spark.driver.memory": "48g",
    }
    # each knob alone replaces only its own value
    alone = session_size({"SPARK_GRAFT_CPUS": "8"})
    assert alone["spark.master"] == "local[8]"
    assert alone["spark.driver.memory"] == session_size({})["spark.driver.memory"]


_SIZING_KEYS = {"spark.master", "spark.driver.memory"}


def _sizing_sites(source: str) -> list[tuple[int, str]]:
    """(line, what) for everything ``source`` sets of the session size:
    ``.master(...)`` calls, ``spark.master``/``spark.driver.memory`` set
    through ``.config``/``.set`` or as a dict key, and every ``local[``
    string literal that is not a docstring. Reading a key
    (``conf.get``) is not a site."""
    tree = ast.parse(source)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef,
                             ast.AsyncFunctionDef))
        and node.body and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            first = node.args[0] if node.args else None
            if node.func.attr == "master":
                sites.append((node.lineno, ".master()"))
            elif (node.func.attr in ("config", "set")
                  and isinstance(first, ast.Constant)
                  and first.value in _SIZING_KEYS):
                sites.append((node.lineno, f".{node.func.attr}({first.value})"))
        elif isinstance(node, ast.Dict):
            sites += [(k.lineno, f"{{{k.value}: ...}}") for k in node.keys
                      if isinstance(k, ast.Constant) and k.value in _SIZING_KEYS]
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and "local[" in node.value and id(node) not in docstrings):
            sites.append((node.lineno, node.value))
    return sorted(sites)


def test_sizing_site_detector():
    assert _sizing_sites('b.master("local[4]")') == [
        (1, ".master()"), (1, "local[4]")]
    assert _sizing_sites('b.config("spark.driver.memory", "8g")') == [
        (1, ".config(spark.driver.memory)")]
    assert _sizing_sites('get_spark(**{"spark.master": m})') == [
        (1, "{spark.master: ...}")]
    assert _sizing_sites('"""Runs on local[32]."""\n'
                         'spark.conf.get("spark.driver.memory")') == []


def test_session_py_is_the_one_sizing_rule():
    files = sorted((REPO / "data_table_spark").rglob("*.py"))
    files += sorted((REPO / "tools").glob("*.py")) + [REPO / "bench.py"]
    found = {}
    for path in files:
        rel = path.relative_to(REPO).as_posix()
        sites = _sizing_sites(path.read_text())
        if sites and rel != "data_table_spark/session.py":
            found[rel] = sites
    # the --vanilla session mirrors a default SparkSession on purpose
    what = {rel: sorted(w for _, w in sites) for rel, sites in found.items()}
    assert what == {"tools/check_correctness.py": [".master()", "local[32]"]}, found

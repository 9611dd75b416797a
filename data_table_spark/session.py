"""SparkSession factory tuned for the engine.

Local sessions are sized to the machine they run on, by one rule
(``session_size``): ``local[N]`` with N the CPUs this process may run
on, and a driver heap of a quarter of the machine's memory (at least
1 GB), as data.table sizes its thread team from the machine at run time
(reference: src/openmp-utils.c:66). The configs below are chosen so the
same code scales to a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces
  data.table's thread throttling (reference: src/openmp-utils.c:63-72).
- shuffle.partitions sized for the test scale; on a real cluster this is
  overridden (AQE coalesces anyway).
- Arrow enabled for any pandas-UDF path (the slow-path escape hatch).
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

# the directory holding the data_table_spark package (the checkout root)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # stage-progress bars interleave with bench/driver stderr capture
    # (the BENCH_r09/r10 "tail clips mid-stream" nit) and add nothing in
    # headless runs
    "spark.ui.showConsoleProgress": "false",
    # the oracle differential collect-compares full result frames; at
    # sf10 sweep scale row-level outputs exceed the 1g default cap
    # (funion_all hit it) — raise it for local tooling, a cluster
    # deployment overrides
    "spark.driver.maxResultSize": "8g",
    # small-dim broadcast threshold: region/nation/customer/supplier/part
    # are broadcastable at any realistic SF; lineitem/orders never are.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # bucketed saveAsTable output (setkey-durable tables) lands in this
    # tree's .tmp, like core.session_scratch_dir
    "spark.sql.warehouse.dir": os.path.join(_ROOT, ".tmp", "warehouse"),
    # Python workers (the library's UDFs and UDTFs) import the package
    # from here; Spark appends the worker's own PYTHONPATH, so this works
    # whatever the driver script's cwd or PYTHONPATH
    "spark.executorEnv.PYTHONPATH": _ROOT,
}


def session_size(env: Mapping[str, str] = os.environ) -> dict[str, str]:
    """The one session-sizing rule: ``spark.master`` and
    ``spark.driver.memory`` for a local session on this machine.

    Slots are the CPUs this process may run on (its affinity mask, not
    the host's core count); the driver heap is a quarter of MemTotal,
    at least 1024m. ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``,
    when set and non-empty, replace the slot count and the heap verbatim
    (no clamping), so a run at a chosen size records that size."""
    cpus = env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    # physical pages x page size is /proc/meminfo's MemTotal
    mem_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    mem = env.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1024, mem_mb // 4)}m"
    return {"spark.master": f"local[{cpus}]", "spark.driver.memory": mem}


def get_spark(app_name: str = "data-table-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession, sized by ``session_size``."""
    builder = SparkSession.builder.appName(app_name)
    conf = {**_DEFAULTS, **session_size()}
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

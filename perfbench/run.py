"""End-to-end benchmark of data_table_spark on two workloads.

Run from the root of a checkout::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

One process is one closed-loop client: it issues one query at a time on
``local[<nproc>]`` and waits for it. A query is driven only through the
library's public surface: ``get_spark``, the registered
``QUERIES[name](spark, dir)`` builder, and one forcing action.

A run:

1. copies the sf0.1 test data into a work directory inside the checkout,
   splitting every table into contiguous row-range parquet parts whose cut
   points the seed jitters (row order is kept, so results do not depend on
   the seed);
2. starts the session, configured only through the library's environment
   knobs (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``,
   ``SPARK_GRAFT_STREAM_CKPT``) with values derived from the machine, plus
   the warehouse and temporary locations, which must stay in the work dir;
3. runs a check pass that collects every query's full output, then one
   untimed forcing pass -- steps 1 to 3 are ``setup_s``;
4. runs timed passes, each query once per pass in a seed-shuffled order,
   until ``--seconds`` have passed and at least three passes are done;
5. outside the timed region, compares every check-pass output with the
   DuckDB oracle ``ORACLE[name]`` using ``tools/check_correctness.py``'s
   normalisation, and stops the JVM and its workers.

The run fails itself (``correct: false``, exit 1) if any op raised, an
output did not match its oracle, a forced row count differs from the
check pass, or the checkout's files (path, size, mtime) differ before and
after the run; the work directory is removed either way.

End-to-end metrics (``--trace 0``), each a sum over the workload's
queries of that query's median over the timed passes: ``pass_s``, build
plus force wall time; ``cpu_s``, CPU-seconds of this process tree
(Python driver, JVM, Python workers) read from ``/proc`` around the op.
``setup_s`` is steps 1 to 3. ``fail_frac`` is ``failed / attempted`` of
the result line and is printed with the rest.

``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics listed in BENCHMARK.json, read around each build and
force from the status store, the forcing action's Catalyst tracker, a
streaming listener and ``/proc``. Spans (run -> pass -> op, with the op's
counters) are kept in memory and printed at the end.
``trace.overhead_frac`` compares traced with untraced pass wall time of
the same run.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # before the library is imported

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402

# the read-only sf0.1 test tables described in TESTDATA.md
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
# stop starting passes when one more would end past this many seconds
# from process start; the whole run must finish well within 180 s
RUN_BUDGET_S = 140.0
# timed passes per run at least: the median of three discards one
# outlier; a traced run alternates untraced and traced passes, two each
MIN_PASSES = 3
MIN_TRACED_PASSES = 4

WORKLOADS = {
    # short single-plan data.table-verb queries: execution and fixed
    # per-query overhead (operators, Catalyst, session sizing); bypasses
    # the pipeline and streaming modules
    "relational": [
        "gforce_q1", "join_inner", "merge_full", "shift_lag_lead",
        "asof_roll_backward", "foverlaps_any", "dcast_pivot",
    ],
    # pipeline-module curation builds (many eager jobs, persisted
    # intermediates left behind) and the same aggregation and dedup
    # operators run incrementally through streaming.run_available_now
    # (micro-batches, state stores, memory-sink tables left behind)
    "pipeline": [
        "split_leakfree", "stream_tumbling_agg",
    ],
}

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "session.persisted_rdds": "count", "session.catalog_tables": "count",
    "session.jvm_gc_s": "s", "session.ops": "count",
    "build.wall_s": "s", "build.jobs": "count", "build.py_cpu_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count", "exec.slot_busy_frac": "ratio",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.input_rows": "count",
    "host.steal_frac": "ratio",
    "trace.untraced_pass_s": "s", "trace.traced_pass_s": "s",
    "trace.overhead_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# checkout and input
# --------------------------------------------------------------------------

def snapshot(root: str) -> dict[str, tuple]:
    """Path -> (size, mtime) of every file below ``root``; directories by
    path only. Files this process's stdout or stderr is redirected into are
    the caller's, not the run's, and are left out."""
    own = set()
    for fd in (1, 2):
        try:
            st = os.fstat(fd)
            own.add((st.st_dev, st.st_ino))
        except OSError:
            pass
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for d in dirnames:
            out[os.path.relpath(os.path.join(dirpath, d), root)] = ("dir",)
        for f in filenames:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            if (st.st_dev, st.st_ino) not in own:
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def split_copy(src: str, dst: str, rng: random.Random,
               target_bytes: int = 512 << 10, max_parts: int = 32) -> dict:
    """Copy every ``<table>.parquet`` of ``src`` into ``dst/<table>.parquet/``
    as contiguous row-range parts. The part count follows the file size
    (as ``bench.py`` does); each cut point moves by up to a quarter part
    either way, drawn from ``rng``. Returns part counts per table."""
    import pyarrow.parquet as pq

    parts = {}
    for fn in sorted(os.listdir(src)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(src, fn)
        table = pq.read_table(path)
        n = table.num_rows
        k = max(1, min(max_parts, n, math.ceil(os.path.getsize(path) / target_bytes)))
        cuts = ([0] + [round((i + rng.uniform(-0.25, 0.25)) * n / k) for i in range(1, k)]
                + [n])
        out = os.path.join(dst, fn)
        os.makedirs(out)
        for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
            pq.write_table(table.slice(a, b - a),
                           os.path.join(out, f"part-{i:05d}.parquet"),
                           row_group_size=max(b - a, 1))
        got = pq.read_schema(os.path.join(out, "part-00000.parquet"))
        if got != table.schema:
            raise RuntimeError(f"schema changed copying {fn}: {got} != {table.schema}")
        parts[fn[: -len(".parquet")]] = k
    return parts


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

def machine_env(work: str) -> dict[str, str]:
    """The library's env knobs sized to this machine, and the temporary
    locations every writer must use."""
    old = os.environ.get("PYTHONPATH")
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, probes.mem_total_mb() // 4)}m",
        "SPARK_GRAFT_STREAM_CKPT": os.path.join(work, "ckpt"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts before the driver
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the library by path and must not write
        # bytecode into the checkout either
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
    }


def start_session(work: str):
    from data_table_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        **{
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext, end the JVM and wait for every process it
    started to be gone."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = probes.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the JVM's Python workers exit on their own once it is gone
    for grace in (30, 10):
        deadline = time.monotonic() + grace
        while any(map(probes.alive, pids)) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in filter(probes.alive, pids):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def as_df(obj):
    return obj.df if hasattr(obj, "df") else obj


def force(df):
    """The one timed action: a one-row reduction over a hash of every
    output column, so no column can be pruned away. Returns the row count
    and the executed aggregate DataFrame."""
    from pyspark.sql import functions as F

    cols = [F.to_json(F.col(c)) if t.startswith("map<") else F.col(c)
            for c, t in df.dtypes]
    agg = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1000003))).alias("h"),
    )
    return agg.collect()[0]["n"], agg


def signature(pdf) -> tuple:
    """Column names, row count and a digest of the normalised, sorted rows
    of a result frame, as the repository's correctness gate compares them."""
    from check_correctness import frame_sig

    cols, rows = frame_sig(pdf)
    return cols, len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

class Run:
    def __init__(self, args, work: str, env: dict[str, str]):
        self.args = args
        self.work = work
        self.env = env
        self.names = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tracer = probes.Tracer() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.rows: dict[str, int] = {}      # check-pass row count per query
        self.sigs: dict[str, tuple] = {}    # check-pass output signature
        self.walls: dict[str, list[float]] = {n: [] for n in self.names}
        self.traced_walls: dict[str, list[float]] = {n: [] for n in self.names}
        self.layers: dict[str, list[dict]] = {n: [] for n in self.names}
        self.max_persisted = 0  # most persisted RDDs left after an op
        self.pass_walls = {"plain": [], "traced": []}
        self.cpus: dict[str, list[float]] = {n: [] for n in self.names}

    # ---- ops ----------------------------------------------------------

    def _fail(self, name: str, what: str) -> None:
        """Count a failed op; inside an ``except`` block the traceback is
        logged too."""
        self.failed += 1
        tb = traceback.format_exc()
        log(f"{name}: FAILED {what}" + ("" if tb.startswith("NoneType") else "\n" + tb))

    def check_op(self, name: str, pass_span) -> float:
        """Check-pass op: build and collect the full output; returns the
        seconds it took (the output signature is taken after the clock
        stops)."""
        from data_table_spark.queries import QUERIES

        self.attempted += 1
        op = self._open("op", pass_span, query=name, kind="check")
        t0 = time.perf_counter()
        try:
            pdf = as_df(QUERIES[name](self.spark, self.data_dir)).toPandas()
        except Exception as e:  # one broken query must not end the run
            self._fail(name, f"{type(e).__name__}: {e}")
            self._close(op, failed=True)
            return time.perf_counter() - t0
        took = time.perf_counter() - t0
        self.sigs[name] = signature(pdf)
        self.rows[name] = len(pdf)
        self._close(op, collect_s=took, rows=len(pdf), **self._gauges())
        return took

    def timed_op(self, name: str, kind: str, pass_span) -> None:
        """Build and force one query. ``kind`` is the pass kind: "warm"
        (not recorded), "plain" (wall time recorded) or "traced"."""
        from data_table_spark.queries import QUERIES

        self.attempted += 1
        traced = kind == "traced"
        probe = self.probe if traced else None
        op = self._open("op", pass_span, query=name) if traced else None
        if probe:
            probe.new_jobs()
            gc0, ev0 = probe.jvm_gc_s(), len(self.listener.events)
            b = self._open("build", op)
        tree0 = probes.tree_cpu(os.getpid()) if kind == "plain" else None
        cpu0 = time.process_time()
        try:
            t0 = time.perf_counter()
            df = as_df(QUERIES[name](self.spark, self.data_dir))
            t1 = time.perf_counter()
            py_cpu = time.process_time() - cpu0
            if probe:
                self._close(b)
                build_jobs = probe.new_jobs()
                f = self._open("force", op)
            t2 = time.perf_counter()
            n, agg = force(df)
            t3 = time.perf_counter()
        except Exception as e:
            self._fail(name, f"{type(e).__name__}: {e}")
            if op is not None:
                self._close(op, failed=True)
            return
        wall = (t1 - t0) + (t3 - t2)
        if n != self.rows.get(name):
            self._fail(name, f"{n} rows, check pass had {self.rows.get(name)}")
        if kind == "plain":
            self.walls[name].append(wall)
            self.cpus[name].append(
                probes.cpu_between(tree0, probes.tree_cpu(os.getpid())))
        if not traced:
            return
        self._close(f)
        force_jobs = probe.new_jobs()
        c = {"build.wall_s": t1 - t0, "build.jobs": len(build_jobs),
             "build.py_cpu_s": py_cpu,
             "exec.wall_s": t3 - t2, "exec.jobs": len(force_jobs),
             "session.jvm_gc_s": probe.jvm_gc_s() - gc0}
        for k, v in probes.catalyst_ms(agg._jdf).items():
            c[f"catalyst.{k}_ms"] = v
        for k, v in probe.stage_totals(force_jobs).items():
            c[f"exec.{k}"] = v
        for k, v in probes.progress_totals(self.listener.events[ev0:]).items():
            c[f"streaming.{k}"] = v
        self.traced_walls[name].append(wall)
        self.layers[name].append(c)
        self._close(op, wall_s=wall, **c, **self._gauges())

    def _gauges(self) -> dict:
        if not self.tracer:
            return {}
        g = {"persisted_rdds": self.probe.persisted_rdds(),
             "catalog_tables": self.probe.catalog_tables()}
        self.max_persisted = max(self.max_persisted, g["persisted_rdds"])
        return g

    def _open(self, name, parent, **attrs):
        if not self.tracer:
            return None
        return self.tracer.open(name, parent["id"] if parent else None, **attrs)

    def _close(self, span, **attrs):
        if span is not None:
            self.tracer.close(span, **attrs)

    # ---- phases -------------------------------------------------------

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.data_dir = os.path.join(self.work, "data")
        self.parts = split_copy(SF_DIR, self.data_dir, self.rng)
        t1 = time.perf_counter()
        self.spark = start_session(self.work)
        self.start_s = time.perf_counter() - t1
        self.slots = int(self.env["SPARK_GRAFT_CPUS"])
        if self.tracer:
            self.probe = probes.SparkProbe(self.spark)
            self.listener = probes.progress_listener()
        self.run_span = self._open("run", None, workload=self.args.workload)
        span = self._open("pass", self.run_span, kind="check")
        check_s = sum(self.check_op(n, span) for n in self.shuffled())
        self._close(span)
        # the JIT is still compiling hard after the first pass; one more
        # untimed pass keeps that out of the timed ones
        t2 = time.perf_counter()
        span = self._open("pass", self.run_span, kind="warm")
        for name in self.shuffled():
            self.timed_op(name, "warm", span)
        warm_s = time.perf_counter() - t2
        self._close(span, wall_s=warm_s)
        self.setup_parts = {"copy_s": t1 - t0, "start_s": self.start_s,
                            "check_pass_s": check_s, "warm_pass_s": warm_s}
        return sum(self.setup_parts.values())

    def shuffled(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def timed(self, t_proc: float) -> None:
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while True:
            traced = bool(self.tracer) and i % 2 == 1
            kind = "traced" if traced else "plain"
            span = self._open("pass", self.run_span, kind=kind)
            if traced:
                self.spark.streams.addListener(self.listener)
            t0 = time.perf_counter()
            for name in self.shuffled():
                self.timed_op(name, kind, span)
            wall = time.perf_counter() - t0
            if traced:
                self.spark.streams.removeListener(self.listener)
            self._close(span, wall_s=wall)
            self.pass_walls[kind].append(wall)
            i += 1
            now = time.perf_counter()
            enough = i >= (MIN_TRACED_PASSES if self.tracer else MIN_PASSES)
            if now - t_proc + wall > RUN_BUDGET_S or (enough and now >= deadline):
                return

    def check_outputs(self) -> None:
        """Compare each check-pass output with its DuckDB oracle."""
        import duckdb
        from check_correctness import TABLES
        from data_table_spark.queries import ORACLE

        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "tmp")})
        try:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.isdir(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
            for name, sig in self.sigs.items():
                span = self._open("check", self.run_span, query=name)
                try:
                    want = signature(con.execute(ORACLE[name]).fetchdf())
                except Exception as e:
                    self._fail(name, f"oracle error {type(e).__name__}: {e}")
                    continue
                finally:
                    self._close(span)
                if want != sig:
                    self._fail(name, f"output differs from oracle: spark {sig[:2]} "
                                     f"vs oracle {want[:2]}")
        finally:
            con.close()
            self._close(self.run_span)

    # ---- results ------------------------------------------------------

    def e2e(self, setup_s: float) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "pass_s": sum(statistics.median(w) for w in self.walls.values() if w),
            "cpu_s": sum(statistics.median(c) for c in self.cpus.values() if c),
        }

    def per_layer(self, steal: float) -> dict[str, float]:
        keys = sorted({k for ops in self.layers.values() for c in ops for k in c})
        m = {k: sum(statistics.median(c[k] for c in ops)
                    for ops in self.layers.values() if ops)
             for k in keys}
        m["exec.slot_busy_frac"] = (m["exec.task_run_s"] / (m["exec.wall_s"] * self.slots)
                                    if m["exec.wall_s"] > 0 else 0.0)
        untraced = sum(statistics.median(w) for w in self.walls.values() if w)
        traced = sum(statistics.median(w) for w in self.traced_walls.values() if w)
        pw = self.pass_walls
        m.update({
            "session.start_s": self.start_s,
            "session.peak_rss_mb": (probes.peak_rss_mb(os.getpid())
                                    + probes.peak_rss_mb(self.probe.jvm_pid)),
            "session.persisted_rdds": self.max_persisted,
            "session.catalog_tables": self.probe.catalog_tables(),
            "session.ops": self.attempted,
            "host.steal_frac": steal,
            "trace.untraced_pass_s": untraced,
            "trace.traced_pass_s": traced,
            "trace.overhead_frac": (statistics.median(pw["traced"])
                                    / statistics.median(pw["plain"]) - 1.0),
        })
        return m


def bench(args, work: str) -> dict:
    t_proc = time.perf_counter()
    env = machine_env(work)
    for d in ("ckpt", "local", "tmp", "cwd"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(os.path.join(work, "cwd"))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    host0 = probes.host_cpu_ticks()
    run = Run(args, work, env)
    try:
        setup_s = run.setup()
        run.timed(t_proc)
        steal = probes.steal_frac(host0, probes.host_cpu_ticks())
        metrics = (run.per_layer(steal) if args.trace else run.e2e(setup_s))
        run.check_outputs()
    finally:
        if getattr(run, "spark", None) is not None:
            stop_session(run.spark)
    complete = all(run.walls.values()) and all(
        run.traced_walls.values() if args.trace else [True])
    units = LAYER_UNITS if args.trace else E2E_UNITS
    result = {
        "correct": run.failed == 0 and complete,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "mem_total_mb": probes.mem_total_mb(), "input": SF_DIR,
        "parts": run.parts, "setup_parts_s": run.setup_parts,
        "host.steal_frac": steal,
        "passes": {k: len(v) for k, v in run.pass_walls.items()},
        "pass_walls_s": run.pass_walls, "query_walls_s": run.walls,
        "query_cpu_s": run.cpus,
        "fail_frac": run.failed / run.attempted,
    }
    print(json.dumps({"env": record}))
    if run.tracer:
        print(json.dumps({"spans": run.tracer.spans}))
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_table_spark")):
        print(f"perfbench: no data_table_spark package in {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    if not os.path.isdir(SF_DIR):
        print(f"perfbench: input {SF_DIR} is missing", file=sys.stderr)
        return 2

    before = snapshot(ROOT)
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    cwd = os.getcwd()
    try:
        result = bench(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    after = snapshot(ROOT)
    if after != before:
        changed = sorted(set(before.items()) ^ set(after.items()))
        log(f"the run changed the checkout: {changed[:10]}")
        result["correct"] = False

    unit_of = {k: v["unit"] for k, v in result["metrics"].items()}
    for k, v in result["metrics"].items():
        print(f"{args.workload} {k} {v['value']:.6g} {unit_of[k]}")
    print(f"{args.workload} fail_frac {result['failed'] / result['attempted']:.6g} ratio")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

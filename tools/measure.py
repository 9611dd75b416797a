"""One measurement CLI over bench.py's core: every subcommand times with
the bench's own action (``fingerprint``: count + full-width xxhash64
reduction), median-of-reps (``time_median``, every sample inside
``core.query_scope``) and session start with warm-up (``start_session``).

Usage:
    python tools/measure.py sweep  SF_DIR [QUERY ...] [--reps N]
        every registry query (default) once, slowest-first, plus a JSON
        line for machine diffing — ranks the tail the headline set misses
    python tools/measure.py ab     TREE_A TREE_B SF_DIR [QUERY ...] [--reps N]
        two source trees' queries rep-interleaved (A,B,A,B,...) in ONE
        session, so ambient load hits both sides equally; B/A table
        (default queries: bench.HEADLINE). Keep --reps odd and >= 3:
        the first sample of each query is cold
    python tools/measure.py scale  SF_DIR [SF_DIR ...] [QUERY ...] [--reps N]
        per-SF curve; super-linear growth flags a pair explosion or a
        single-reducer choke (tools/make_scale_data.py makes SFs > 0.1)
    python tools/measure.py skew   SF_DIR [QUERY ...] [--out DIR] [--reps N]
        ordered operators on uniform vs hot-key-skewed events
    python tools/measure.py chunk  SF_DIR [--reps N]
        single-key window wall vs the n_chunks chunk-stitch
    python tools/measure.py layout SF_DIR [QUERY ...]
        fingerprint + dtypes on the original vs the scan-parallel layout

Leading arguments that are directories are the SF dirs (for ``ab``: the
two trees, then the SF dir); the rest are query names.
"""

from __future__ import annotations

import argparse
import importlib
import itertools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # the one measurement core
    HEADLINE,
    fingerprint,
    median,
    scan_parallel_copy,
    start_session,
    time_median,
)
from data_table_spark.core import query_scope
from data_table_spark.queries import QUERIES

# (name, default --reps or None = untimed, number of leading dirs;
# None = one or more)
COMMANDS = [
    ("ab", 3, 3), ("sweep", 1, 1), ("scale", 1, None),
    ("skew", 3, 1), ("chunk", 3, 1), ("layout", None, 1),
]

SCALE_QUERIES = [
    "gforce_q1", "join_inner", "shift_lag_lead", "asof_roll_backward",
    "ngram_jaccard_pairs", "minhash_lsh_pairs", "ann_cosine_topk",
    "text_quality",
]

# events-only ordered operators: Window.partitionBy(key).orderBy(time)
# puts one key's rows in one task, so a hot key serializes there
SKEW_QUERIES = ["asof_roll_backward", "froll_mean_sum", "shift_lag_lead"]


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    for cmd, reps, _ in COMMANDS:
        s = sub.add_parser(cmd)
        s.add_argument("targets", nargs="+", metavar="DIR_OR_QUERY")
        if reps is not None:
            s.add_argument("--reps", type=int, default=reps)
        if cmd == "skew":
            s.add_argument("--out", help="skewed-events dir (default: a temp dir)")
    a = p.parse_args(argv)
    a.dirs = list(itertools.takewhile(os.path.isdir, a.targets))
    a.names = a.targets[len(a.dirs):]
    # a path-looking name that is NOT a directory is a typo, not a query
    typos = [n for n in a.names if "/" in n or n.startswith(".")]
    if typos:
        p.error(f"not a directory: {typos[0]}")
    need = {c: n for c, _, n in COMMANDS}[a.cmd]
    if not a.dirs or (need and len(a.dirs) != need):
        p.error(f"{a.cmd} takes {need or 'one or more'} leading directories")
    if a.cmd == "chunk" and a.names:
        p.error("chunk takes no query names")
    unknown = [n for n in a.names if n not in QUERIES]
    if unknown and a.cmd != "ab":  # ab checks against both trees
        p.error(f"unknown queries: {' '.join(unknown)}")
    return a


def _timed(spark, name: str, data_dir: str, reps: int):
    """time_median of one registry query, or None after a FAILED line."""
    try:
        return time_median(lambda: QUERIES[name](spark, data_dir), reps)
    except Exception as e:  # noqa: BLE001 — record and move on
        print(f"# FAILED {name} at {data_dir}: {e}", flush=True)
        return None


def cmd_sweep(a, spark) -> None:
    sf_dir = a.dirs[0]
    out: dict[str, float] = {}
    for name in a.names or list(QUERIES):
        spark.sparkContext.setJobDescription(f"sweep: {name}")
        t = _timed(spark, name, sf_dir, a.reps)
        spark.sparkContext.setJobDescription(None)
        if t:
            out[name] = round(t.median, 3)
            print(f"# {name}: {out[name]}s", flush=True)
    for name, sec in sorted(out.items(), key=lambda kv: -kv[1]):
        print(f"{sec:8.3f}\t{name}")
    print(json.dumps({"sf_dir": sf_dir, "reps": a.reps, "queries": out}))


def cmd_scale(a, spark) -> None:
    labels = [os.path.basename(d.rstrip("/")) for d in a.dirs]
    print("| query | " + " | ".join(labels) + " | last/prev ratio |")
    print("|---|" + "---|" * (len(a.dirs) + 1))
    for name in a.names or SCALE_QUERIES:
        ts = []
        for d in a.dirs:
            t = _timed(spark, name, d, a.reps)
            ts.append(t.median if t else float("nan"))
        ratio = ts[-1] / ts[-2] if len(ts) >= 2 and ts[-2] > 0 else float("nan")
        cells = " | ".join(f"{t:.2f}s" for t in ts)
        print(f"| {name} | {cells} | {ratio:.1f}x |", flush=True)


def make_skewed(spark, src: str, dst: str) -> None:
    """~10% of rows get user_id = 1; the rest keep theirs. Deterministic
    (md5 of event_id), no sampling."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{src}/events.parquet")
    hot = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
    skewed = ev.withColumn(
        "user_id",
        F.when(hot.cast("long") % 10 == 0, F.lit(1).cast("long"))
        .otherwise(F.col("user_id").cast("long")),
    )
    skewed.write.mode("overwrite").parquet(f"{dst}/events.parquet")


def cmd_skew(a, spark) -> None:
    """Grouped aggregates shrug off key skew (partial agg + AQE skew
    split); ordered operators cannot split a key without breaking the
    frame. Measure that cliff: one user owns ~10% of the events."""
    src = a.dirs[0]
    dst = a.out or tempfile.mkdtemp(prefix="skew_events_")
    try:
        if not os.path.exists(f"{dst}/events.parquet"):
            make_skewed(spark, src, dst)
        ev = spark.read.parquet(f"{dst}/events.parquet")
        total = ev.count()
        hot = ev.filter(ev.user_id == 1).count()
        print(f"# skewed events: {total} rows, hot user owns {hot} "
              f"({100.0 * hot / total:.1f}%)")
        for name in a.names or SKEW_QUERIES:
            tu, ts = (_timed(spark, name, d, a.reps) for d in (src, dst))
            if tu and ts:
                print(f"{name}: uniform {tu.median:.2f}s ({tu.n} rows) | "
                      f"skewed {ts.median:.2f}s ({ts.n} rows) | "
                      f"ratio {ts.median / tu.median:.2f}x", flush=True)
    finally:
        if not a.out:
            shutil.rmtree(dst, ignore_errors=True)


def cmd_chunk(a, spark) -> None:
    """The single-task CEILING of a hot key's ordered window — EVERY row
    in one key — against the n_chunks= chunk-stitch (exact output). The
    evidence behind operators/window.py:AUTO_CHUNK_BREAK_EVEN."""
    from pyspark.sql import functions as F

    from data_table_spark.core import DT
    from data_table_spark.operators.asof import asof_join
    from data_table_spark.operators.window import (
        frank, frolladaptive, froll, frollapply, rleid,
    )

    ev = spark.read.parquet(f"{a.dirs[0]}/events.parquet").select(
        F.lit(1).alias("u"),  # EVERY row in one key: the wall case
        F.col("event_id").cast("long").alias("eid"),
        F.col("value").cast("double").alias("value"),
    )
    print(f"# {ev.count()} rows, ALL in one window partition", flush=True)

    def dt(df):
        return DT(df, order_by=["eid"])

    base = dt(ev)
    x = dt(ev.filter(F.col("eid") % 10 == 0).withColumnRenamed("value", "xv"))
    i = dt(ev.filter(F.col("eid") % 10 != 0))
    # duplicate-heavy rank column (ties exercise the offset arithmetic)
    ranked = dt(ev.withColumn(
        "rv", F.pmod(F.xxhash64("eid"), F.lit(100000)).cast("double")))
    # ~1000-row runs (boundary-straddling at any chunking)
    runs = dt(ev.withColumn("runv", (F.col("eid") / 1000).cast("long").cast("string")))
    adaptive = dt(ev.withColumn("nw", (F.pmod(F.col("eid"), F.lit(50)) + 1).cast("int")))
    ordered = dict(by=["u"], order=["eid"])
    cases = [
        ("froll_mean n=100", lambda nc: froll(
            base, "mean", "value", 100, n_chunks=nc, **ordered)),
        ("asof nearest", lambda nc: asof_join(
            x, i, on=["u"], time_x="eid", time_i="eid", roll="nearest",
            n_chunks=nc)),
        ("frank average", lambda nc: frank(
            ranked, "rv", ties="average", by=["u"], n_chunks=nc)),
        ("rleid runs", lambda nc: rleid(runs, "runv", n_chunks=nc, **ordered)),
        # running-triple carry for sum, halo sparse-table stitch for extrema
        ("frolladaptive sum n<=50", lambda nc: frolladaptive(
            adaptive, "value", "nw", fun="sum", n_chunks=nc, **ordered)),
        ("frolladaptive max n<=50", lambda nc: frolladaptive(
            adaptive, "value", "nw", fun="max", n_chunks=nc, **ordered)),
        # the Arrow UDF is the wall here: the win is Python parallelism
        ("frollapply max n=25", lambda nc: frollapply(
            base, "value", 25, lambda v: float(max(v)), n_chunks=nc, **ordered)),
    ]
    for label, op in cases:
        for nc in (None, 32):
            t = time_median(lambda: op(nc), a.reps)
            print(f"{label} n_chunks={nc}: {t.median:.2f}s ({t.n}, {t.h})",
                  flush=True)


def cmd_layout(a, spark) -> None:
    """Every query must compute the SAME (dtypes, fingerprint) from the
    scan-parallel copy as from the original single-file layout: file
    boundaries may not change a result."""
    sf_dir = a.dirs[0]
    split_dir, info = scan_parallel_copy(sf_dir)
    print(f"# split copy at {split_dir}: {info['n_parts']}", flush=True)

    def signature(name: str, d: str):
        with query_scope():
            built = QUERIES[name](spark, d)
            sdf = getattr(built, "df", built)  # DT or DataFrame
            return tuple(sdf.dtypes), fingerprint(sdf)

    counts = {"pass": 0, "fail": 0, "err": 0}
    try:
        for name in a.names or list(QUERIES):
            t0 = time.perf_counter()
            try:
                orig, split = signature(name, sf_dir), signature(name, split_dir)
            except Exception as e:  # noqa: BLE001
                counts["err"] += 1
                print(f"ERR  {name}: {e}", flush=True)
                continue
            if orig == split:
                counts["pass"] += 1
                print(f"PASS {name}: n={orig[1][0]} "
                      f"({time.perf_counter() - t0:.1f}s)", flush=True)
            else:
                counts["fail"] += 1
                print(f"FAIL {name}: original={orig[1]} split={split[1]}", flush=True)
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)
    print(json.dumps({**counts, "sf_dir": sf_dir}))


# --- ab: per-tree module snapshots -------------------------------------


def _purge() -> None:
    for mod in list(sys.modules):
        if mod.startswith("data_table_spark"):
            del sys.modules[mod]


def load_tree(tree: str):
    """Import a tree's registry and SNAPSHOT its module graph. Query
    functions lazy-import relatively at call time; installing the
    snapshot into sys.modules around each timed call guarantees those
    imports resolve inside the SAME tree (a bare cache purge would let
    tree A's lazy imports re-import tree B's modules via sys.path)."""
    _purge()
    sys.path.insert(0, tree)
    try:
        q = dict(importlib.import_module("data_table_spark.queries").QUERIES)
        snap = {
            n: m for n, m in sys.modules.items()
            if n.startswith("data_table_spark")
        }
        return q, snap
    finally:
        sys.path.remove(tree)


def _install(snap, tree: str) -> None:
    _purge()
    sys.modules.update(snap)
    if sys.path[0] != tree:
        sys.path.insert(0, tree)


def _uninstall(tree: str) -> None:
    if sys.path and sys.path[0] == tree:
        sys.path.pop(0)


def cmd_ab(a) -> None:
    sf_dir = a.dirs[2]
    sides = [(tree, *load_tree(tree)) for tree in a.dirs[:2]]
    names = a.names or HEADLINE
    common = [n for n in names if all(n in q for _, q, _ in sides)]
    if len(common) < len(names):
        print(f"# not in both trees (skipped): "
              f"{' '.join(n for n in names if n not in common)}", file=sys.stderr)

    tree_b, _, snap_b = sides[1]
    _install(snap_b, tree_b)
    spark = start_session("measure-ab", sf_dir)
    _uninstall(tree_b)

    results: dict[str, tuple[float, float]] = {}
    for name in common:
        samples: tuple[list[float], list[float]] = ([], [])
        pairs = list(zip(sides, samples))
        try:
            for _ in range(max(1, a.reps)):
                for (tree, q, snap), acc in pairs:
                    _install(snap, tree)
                    try:
                        acc.append(time_median(lambda: q[name](spark, sf_dir), 1).median)
                    finally:
                        _uninstall(tree)
        except Exception as e:  # noqa: BLE001 — e.g. an older tree missing a column
            print(f"# {name}: FAILED in {tree}: {e}", file=sys.stderr)
            continue
        results[name] = (median(samples[0]), median(samples[1]))
        print(f"# {name}: A {results[name][0]:.2f}s B {results[name][1]:.2f}s",
              file=sys.stderr, flush=True)

    print("| query | A med | B med | B/A |")
    print("|---|---|---|---|")
    for name, (ma, mb) in results.items():
        print(f"| {name} | {ma:.2f}s | {mb:.2f}s | {mb / ma:.2f}x |")
    tot_a = sum(ma for ma, _ in results.values())
    tot_b = sum(mb for _, mb in results.values())
    if tot_a:
        print(f"| **common total** | **{tot_a:.2f}** | **{tot_b:.2f}** "
              f"| **{tot_b / tot_a:.2f}x** |")


def main(argv=None) -> None:
    a = parse(argv)
    if a.cmd == "ab":
        cmd_ab(a)
        return
    spark = start_session(f"measure-{a.cmd}", a.dirs[0])
    globals()[f"cmd_{a.cmd}"](a, spark)


if __name__ == "__main__":
    main()

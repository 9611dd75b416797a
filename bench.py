"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 dir named in ``main``) in a ``get_spark`` session (sized to the
machine; ``SPARK_GRAFT_CPUS`` overrides the slots) and prints ONE JSON
line::

    {"metric": "total_headline_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1,
     "queries_task_cpu_s": {"q1": sec, ...}, "total_task_cpu_s": N,
     "ambient_probe": {"start": sec, "end": sec}, "conf": {...},
     "input_layout": {...}, "released_rdds": {"q1": n, ...}}

Each query is measured REPS (3) times and the per-query MEDIAN is
reported: one-shot numbers on this box carry +/-50% ambient noise
(a 20% total delta was measured on byte-identical code; see
OPTIMIZATION_r15.md §Round-close for whole-run stalls), and a median-of-3 in one session is the cheapest robust
estimator. Reps run back-to-back per query (plan compile amortizes into
rep 1; the median discards it when warm reps are faster, which is the
steady-state number a user sees), each rep inside ``core.query_scope``,
which frees the intermediates it materialized outside the timer. No
per-query caching — every rep re-scans parquet, so the real scan cost
stays in.

Two readings per query. ``queries`` is wall seconds, the headline
series. ``queries_task_cpu_s`` is the executor CPU-seconds of
every task the query's jobs ran (build jobs included), summed over the
reps and divided by REPS, read from Spark's status store through
perfbench's ``SparkProbe``; an ambient stall stretches wall time but
not task CPU. The only in-run control is ``ambient_probe``: gforce_q1
timed once at session start and once at session end.

One series, ``value`` = the sum of ``queries``, re-based twice:

- round 8: the headline set grew from 14 to 19 queries, and the timing
  action changed from ``df.count()`` to the full-width reduction of
  ``fingerprint`` (a bare count lets Catalyst prune Window operators,
  so the window-shaped queries had timed a scan-only plan);
- round 9: line_dedup_boilerplate joined, making the 20 of ``HEADLINE``.

Across a re-base compare per-query entries, not totals.

Measurement core: ``fingerprint`` (the timed action), ``time_median``
(median-of-reps, every sample inside ``core.query_scope``),
``start_session`` (session start + warm-up) and ``HEADLINE`` are the one
copy every measuring tool uses; ``tools/measure.py`` is their CLI.

Input layout — CHANGED in round 15 (measurement fix, declared in
OPTIMIZATION_r15.md): the queries read a per-invocation scan-parallel
copy of the SF dir (each table split into contiguous row-range part
files) instead of the driver's single-file/single-row-group layout, so
scans parallelize the way any 100 TB input's thousands of splits
would, and the low-core scaling dimension becomes measurable. Same
rows, same schema, same results (full-registry layout differential);
rebuilt from the parquet inputs on every invocation, nothing persisted
across runs. ``tools/measure.py layout`` compares the two layouts.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_table_spark.queries import QUERIES

# Headline set: one per operator family, heaviest-shuffle variants chosen
# so the benchmark tracks the plans that matter at 100 TB.
HEADLINE = [
    "gforce_q1",          # full-scan group-agg (TPC-H Q1 shape)
    "join_inner",         # big-big equi join
    "merge_full",         # two-agg full outer merge
    "uniqueN_by",         # distinct-count per group
    "shift_lag_lead",     # ordered window over events
    "froll_mean_sum",     # rolling window
    "asof_roll_backward", # as-of (roll) join
    "foverlaps_any",      # interval overlap join
    "dcast_pivot",        # pivot
    "ghead_per_group",    # per-group head (top-k shape)
    "dedup_exact",        # exact dedup over documents
    "minhash_lsh_pairs",  # MinHash+LSH near-dup candidate pairs
    "ann_cosine_topk",    # brute-force cosine top-k
    "text_quality",       # text quality scoring
    # r8 additions (VERDICT r6 item 8) — newest operator families:
    "let_by_group",       # grouped := (fused window, single exchange)
    "transpose_medium",   # distributed transpose
    "stream_tumbling_agg",  # streaming micro-batch (tumbling window agg)
    "dup_ngram_spans",    # duplicated-span profile (substring-dedup family)
    "kmeans_clusters",    # deterministic Lloyd's k-means (iterative clustering)
    # r9 continuation addition:
    "line_dedup_boilerplate",  # line-level boilerplate removal (CCNet family)
]


def scan_parallel_copy(sf_dir: str, target_bytes: int = 512 << 10,
                       max_files: int = 32) -> tuple[str, dict]:
    """Per-invocation scan-parallel copy of the SF dir (round-15
    measurement fix, guide §1/§6 + VERDICT r14 item 2).

    Every driver-testdata parquet is ONE file with ONE row group, so a
    scan is ONE task no matter how many cores the driver grants —
    which (a) serializes the scan-side compute the way no 100 TB input
    ever would (thousands of splits there) and (b) blinds the driver's
    low-core scaling probe: overhead-bound sub-second queries read the
    same at 8 and 32 cores (`suspect_cpus_ignored` false positive,
    adjudicated in VERDICT r14). This rewrites each table as a
    directory of contiguous ROW-RANGE part files (~target_bytes each,
    capped at max_files; one row group per part), the layout the same
    data would have coming out of any real distributed writer. Rows,
    schema, and physical types are byte-identical (asserted below);
    only the file boundaries change, so every query computes the same
    result (verified by the r15 full-registry layout differential —
    OPTIMIZATION_r15.md).

    The copy is rebuilt from the parquet inputs on EVERY invocation
    into a fresh temp dir and deleted at exit: nothing is persisted or
    reused across runs, and no query work is precomputed — this is an
    input-layout fix, not caching."""
    import glob as _glob
    import math
    import tempfile

    import pyarrow.parquet as pq

    out_root = tempfile.mkdtemp(prefix="bench_scan_parallel_")
    n_parts: dict[str, int] = {}
    for path in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)
        if not os.path.isfile(path):  # already a directory table
            raise ValueError(f"not a single-file table: {path}")
        size = os.path.getsize(path)
        k = max(1, min(max_files, math.ceil(size / target_bytes)))
        t = pq.read_table(path)
        outdir = os.path.join(out_root, name)
        os.makedirs(outdir)
        step = max(1, math.ceil(t.num_rows / k)) if t.num_rows else 1
        i = 0
        off = 0
        while off == 0 or off < t.num_rows:
            piece = t.slice(off, step)
            pq.write_table(
                piece,
                os.path.join(outdir, f"part-{i:05d}.parquet"),
                row_group_size=max(piece.num_rows, 1),
                version="2.6",
                compression="snappy",
            )
            i += 1
            off += step
        n_parts[name] = i
        # physical-type safety: the rewrite must round-trip the exact
        # arrow schema (events.ts is TIMESTAMP(NANOS); decimals must
        # stay decimals) or the copy is not the same input
        got = pq.read_schema(os.path.join(outdir, "part-00000.parquet"))
        if got != t.schema:
            raise ValueError(f"schema drift rewriting {name}: {got} != {t.schema}")
    return out_root, {"mode": "scan_parallel", "n_parts": n_parts}


def start_session(app: str, data_dir: str):
    """Session start plus untimed warm-up (JVM, codegen and scan paths).
    The nation count alone was NOT enough: the first real aggregate
    query still paid ~3s of codegen/scan warm-up, which made probe_start
    read ~3-4x probe_end on an IDLE box (r8/r9 both). The imports are
    resolved at call time, so a caller that installed another tree's
    modules (``measure.py ab``) gets that tree's session and query."""
    from data_table_spark import get_spark
    from data_table_spark.queries import QUERIES

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{data_dir}/nation.parquet").count()
    fingerprint(QUERIES["gforce_q1"](spark, data_dir))
    return spark


def median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


class Timed(NamedTuple):
    median: float
    samples: list[float]  # sorted
    n: int
    h: int | None
    released: int  # intermediates query_scope freed across all samples


def time_median(build: Callable[[], object], reps: int) -> Timed:
    """Median wall seconds of ``reps`` (at least 1) samples of
    build-then-force: ``build()`` returns a DataFrame or DT, and the
    timer covers its construction plus ``fingerprint``. Each sample runs
    inside ``core.query_scope``, so the intermediates it materialized
    are freed, blocking, outside the timer, and no sample inherits
    another's checkpoint blocks; a caller's own cached tables stay
    cached. ``query_scope`` is resolved at call time from the installed
    tree (``measure.py ab``); a tree that predates it runs unscoped.
    Exceptions propagate (after the release); callers record the
    failure and move on."""
    from data_table_spark import core

    scope = getattr(core, "query_scope", lambda: contextlib.nullcontext([]))
    samples: list[float] = []
    released = 0
    for _ in range(max(1, reps)):
        with scope() as pinned:
            t0 = time.perf_counter()
            n, h = fingerprint(build())
            samples.append(time.perf_counter() - t0)
        released += len(pinned)
    return Timed(median(samples), sorted(samples), n, h, released)


def _hashable_cols(sdf):
    """xxhash64 rejects MapType; feed maps through to_json so a query
    emitting a map column is forced (and timed), not dropped as FAILED."""
    from pyspark.sql import functions as F

    return [
        F.to_json(F.col(c)) if t.startswith("map<") else F.col(c)
        for c, t in sdf.dtypes
    ]


def fingerprint(sdf) -> tuple[int, int | None]:
    """The timed action: ``(row count, sum(pmod(xxhash64(all cols), p)))``
    in one collected row, forcing EVERY output column (see module
    docstring: a bare count() lets Catalyst prune Window operators).
    Order-insensitive, so it doubles as a cheap value fingerprint. pmod
    bounds the per-row term so the 64-bit sum cannot overflow under ANSI
    mode. Accepts a DT or a DataFrame."""
    from pyspark.sql import functions as F

    sdf = getattr(sdf, "df", sdf)
    row = sdf.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*_hashable_cols(sdf)), F.lit(1000003))).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def main() -> None:
    from perfbench.probes import SparkProbe

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # scan-parallel input layout (see scan_parallel_copy). Any failure
    # building the copy falls back to the original dir — the bench line
    # must come out either way.
    try:
        data_dir, layout_info = scan_parallel_copy(sf_dir)
    except Exception as e:  # pragma: no cover — defensive fallback
        print(f"# scan_parallel_copy failed ({e}); using {sf_dir}",
              file=sys.stderr)
        data_dir, layout_info = sf_dir, {"mode": "original", "error": str(e)}
    spark = start_session("data-table-spark-bench", data_dir)
    stages = SparkProbe(spark)

    # The in-run control: the same fixed query timed once at session
    # start and once at session end, plus the session conf that could
    # move timings (end/start far from 1 == the box moved mid-run).
    def probe() -> float:
        t = time_median(lambda: QUERIES["gforce_q1"](spark, data_dir), 1)
        return round(t.median, 4)

    conf_keys = [
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.driver.memory", "spark.driver.maxResultSize",
        "spark.sql.files.maxPartitionBytes", "spark.master",
    ]
    conf = {k: spark.conf.get(k, None) for k in conf_keys}
    probe_start = probe()

    # max(1, ·): reps<=0 would silently skip every query and emit a fake
    # all-zero benchmark line
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    timings: dict[str, float] = {}
    task_cpu: dict[str, float] = {}
    released: dict[str, int] = {}
    for name in HEADLINE:
        stages.new_jobs()  # start the job window at this query
        try:
            t = time_median(lambda: QUERIES[name](spark, data_dir), reps)
        except Exception as e:  # one broken query must not kill the line
            print(f"# {name}: FAILED {e}", file=sys.stderr)
            continue
        cpu = stages.stage_totals(stages.new_jobs())["task_cpu_s"] / reps
        if t.released:
            released[name] = t.released
        timings[name] = round(t.median, 4)
        task_cpu[name] = round(cpu, 4)
        detail = "/".join(f"{s:.2f}" for s in t.samples)
        print(f"# {name}: median {timings[name]:.3f}s of [{detail}] "
              f"({t.n} rows; task CPU {cpu:.2f}s per rep)", file=sys.stderr)

    probe_end = probe()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1
    print(json.dumps({
        "metric": "total_headline_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # executor CPU-seconds of every task the query's jobs ran (build
        # jobs included), per rep: host stalls stretch wall time but not
        # CPU time
        "queries_task_cpu_s": task_cpu,
        "total_task_cpu_s": round(sum(task_cpu.values()), 4),
        "ambient_probe": {"start": probe_start, "end": probe_end},
        "conf": conf,
        "input_layout": layout_info,
        "released_rdds": released,
    }))
    if data_dir != sf_dir:
        shutil.rmtree(data_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

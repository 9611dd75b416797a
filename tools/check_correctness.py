"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given SF, compare
row-count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [--vanilla] [sf_dir] [query ...]

--vanilla builds a DEFAULT SparkSession (no repo confs, 200 shuffle
partitions) exactly like the driver's — the partition-invariance /
session-agnosticism gate. Results must be identical to the tuned
session; round 1's gforce_var_sd hash-drift and events-nanos errors
were only visible this way.

Each query runs inside ``core.query_scope`` and fails if it leaves a
persisted RDD or a temporary view behind in the session (counted with
perfbench's ``SparkProbe`` and the catalog).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    return str(v)


def decimal_margin(pdf, cap=1e13):
    """Return a description of any FLOAT output cell within 10x of the
    DECIMAL(18,4) magnitude cap (10^14), else None. Only float columns:
    the exact-sum convention (data_table_spark/exact.py) rides on double
    aggregates cast back to double; integer columns are ids / epoch
    timestamps / counts that never pass through the decimal cast
    (epoch-µs values sit at ~1e15 by nature and would be pure noise
    here).

    Headroom: the oracle half reproduces Spark's two casts where DuckDB
    1.0.0's own differ (its addend cast scales the binary double instead
    of rounding Double.toString HALF_UP; its back cast goes through a
    double, inexact past |sum| * 10^4 > 2^53 = 9.007e11), so sums agree
    at any magnitude the accumulators hold (10^24 in Spark's
    decimal(28,4)). The one limit is the per-ADDEND cap |x| < 10^14, at
    which both engines raise; a sum in [10^13, 10^14) is the warning
    that addends may reach it at a larger SF."""
    worst = None
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype.kind != "f":
            continue
        m = col.abs().max()
        if m is not None and m == m and cap <= m < 10 * cap:
            # only the QUIET danger band [1e13, 1e14): passes today,
            # may overflow the per-addend cap at a bigger SF. Values
            # already >= 1e14 can never have ridden the DECIMAL(18,4)
            # cast (both engines raise loudly at the cap — pinned in
            # tests/test_property.py), so they are provably cast-free
            # columns: epoch-µs timestamps float-promoted by join
            # nulls (asof quote_ts at sf0.01) were the observed case.
            if worst is None or m > worst[1]:
                worst = (c, float(m))
    if worst:
        return f"column {worst[0]} max |value| {worst[1]:.3g}"
    return None


def _norm_col(col):
    """Vectorized norm_cell for one pandas column — same output as
    [norm_cell(v) for v in col] (equivalence property-tested in
    tests/test_property.py); the float path is numpy-vectorized because
    the per-cell Python loop dominated sf10-scale sweeps (the 70M-row
    funion_all frames spent minutes here). Note a float64 numpy-backed
    column has already coerced None to NaN before norm_cell ever sees
    it, so the NaN branch IS the null branch there, same as before."""
    import numpy as np

    if not isinstance(col.dtype, np.dtype):
        # pandas extension dtype (nullable Int64 etc.) — python fallback
        return [norm_cell(v) for v in col]
    if col.dtype.kind in "fiu":
        import pandas as pd

        # numeric columns are frequently LOW-CARDINALITY in analytics
        # outputs (quantities, counts, grouped aggregates): factorize
        # and format each unique once when that wins — a 60M-row
        # let_by_group frame has ~50 distinct l_quantity values. High-
        # cardinality columns keep the full vectorized format below.
        codes, uniq = pd.factorize(col, use_na_sentinel=True)
        if len(uniq) <= len(col) // 4:
            null_repr = "NaN" if col.dtype.kind == "f" else "NULL"
            if len(uniq) == 0:  # all-null column
                return [null_repr] * len(col)
            vals = np.array([norm_cell(v) for v in uniq], dtype=object)
            out = np.where(codes >= 0, vals[np.clip(codes, 0, None)],
                           null_repr)
            return out.tolist()
    if col.dtype.kind == "f":
        a = col.to_numpy()
        out = np.char.mod("%.9g", a).astype(object)
        ints = np.isfinite(a) & (a == np.floor(a)) & (np.abs(a) < 1e15)
        if ints.any():
            # %d on float64 would format the float; round-trip through
            # int64 for the exact integer repr norm_cell emits
            out[ints] = np.char.mod("%d", a[ints].astype("int64"))
        out[np.isnan(a)] = "NaN"
        return out.tolist()
    if col.dtype.kind in "iu":
        return np.char.mod("%d", col.to_numpy()).astype(object).tolist()
    # object / bool / datetime / decimal: normalize each UNIQUE value
    # once and take() — the per-cell python loop over 15M-row x 4
    # timestamp-column frames (date_round at sf10) ran ~20 minutes;
    # factorize+take is ~200x on low-cardinality columns and within
    # ~20% of the plain map even when every value is distinct. Nulls
    # (None/NaN/NaT) are factorized to the -1 sentinel as one class but
    # normalize DIFFERENTLY ("NULL"/"NaN"/"NaT"), so null slots are
    # per-element normalized instead of taken from uniques. Caveat
    # (documented precondition): values that compare == across types
    # (True == 1) would share a factorize code and collapse to one
    # repr; engine result columns never mix types like that.
    import pandas as pd

    try:
        codes, uniq = pd.factorize(col, use_na_sentinel=True)
    except TypeError:
        # unhashable cells (list/array columns) can't factorize
        return [norm_cell(v) for v in col]
    vals = np.array([norm_cell(v) for v in uniq], dtype=object)
    out = np.empty(len(col), dtype=object)
    mask = codes >= 0
    out[mask] = vals[codes[mask]]
    if not mask.all():
        idx = np.nonzero(~mask)[0]
        out[idx] = [norm_cell(v) for v in col.iloc[idx]]
    return out.tolist()


def frame_sig(pdf):
    cols = sorted(pdf.columns)
    if len(pdf) == 0:
        return cols, []
    parts = [_norm_col(pdf[c]) for c in cols]
    rows = ["\x1f".join(t) for t in zip(*parts)]
    rows.sort()
    return cols, rows


def temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def main():
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as entrymod
    from data_table_spark.core import query_scope
    from perfbench.probes import SparkProbe

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("correctness-vanilla")
            .getOrCreate()
        )
    else:
        from data_table_spark import get_spark

        spark = get_spark("correctness-check")
    probe = SparkProbe(spark)
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single files; Spark-written data (e.g.
        # tools/make_scale_data.py output) is a directory of part files
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = n_margin = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rdds, views = probe.persisted_rdds(), temp_views(spark)
        try:
            with query_scope():
                got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        rdds = probe.persisted_rdds() - rdds
        views = temp_views(spark) - views
        if rdds or views:
            print(f"FAIL {name}: left behind {rdds} persisted RDDs and "
                  f"temporary views {sorted(views)}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        gc, gr = frame_sig(got)
        ec, er = frame_sig(exp)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} vs {ec}")
            n_fail += 1
            continue
        if len(gr) != len(er):
            print(f"FAIL {name}: rows {len(gr)} vs {len(er)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(gr, er) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(gr)} rows differ; first: ")
            print(f"   spark: {bad[0][0][:300]}")
            print(f"   duck : {bad[0][1][:300]}")
            n_fail += 1
            continue
        margin = decimal_margin(got)
        if margin:
            # DECIMAL(18,4) overflow margin (tests/test_property.py
            # test_decimal_sum_overflow_margin pins the geometry): the
            # cap binds per ADDEND at 10^14 and is loud in both engines,
            # but an output magnitude past 10^13 means a further
            # aggregation level at a bigger SF would push addends toward
            # the cap — flag it before sf100 does.
            print(f"MARGIN {name}: {margin} (within 10x of the "
                  f"DECIMAL(18,4) cap — revisit the cast convention "
                  f"before scaling this query up)")
            n_margin += 1
        print(f"PASS {name}: {len(gr)} rows ({time.time()-t0:.1f}s)")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
          f"{n_margin} margin-flags")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

"""Window / ordered operators (SURVEY §2.5).

The reference's order-sensitive kernels (shift src/shift.c:4, froll
src/froll.c:24, frank src/frank.c:112, rleid src/uniqlist.c:170, nafill
src/nafill.c:120) all become Spark window functions over an explicit
ordering. Design rule for scale: windows are ALWAYS partitioned by the
group columns when the caller has any — a global (unpartitioned) ordered
window serializes through a single reducer, so the helpers take
``by=None`` to mean "whole table" and we document that cost; every
per-group form distributes.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

from ..core import DT, _namelist

__all__ = [
    "win",
    "shift",
    "froll",
    "frollmean",
    "frollsum",
    "frollmax",
    "frollmin",
    "frollprod",
    "frollvar",
    "frollsd",
    "frank",
    "rleid",
    "rowid",
    "nafill",
    "setnafill",
    "nafill_locf",
    "nafill_nocb",
    "cumfn",
    "frev_order",
]


def win(dt: DT, by=None, order=None) -> WindowSpec:
    """Window spec over the DT's declared order (or an override).

    Missing ORDER VALUES inside window operators keep Spark-native
    placement (NULL first asc, NaN after +Inf) rather than the forder
    two-level key _order_exprs re-applies for row-subsetting
    operators: the reference computes shift/froll/cum in TABLE order
    where "missing order value" has no meaning, the chunk-stitch twins
    assign chunks by the same Spark-native rule (_chunked_frame), and
    the stitched==unsplit equality properties depend on the two paths
    agreeing. One convention per operator family, documented here."""
    order = _namelist(order) or dt.order_by
    if not order:
        raise ValueError(
            "ordered operator needs an ordering: set order_by on the DT "
            "(SURVEY §1.1 — Spark DataFrames are unordered)"
        )
    w = Window.partitionBy(*_namelist(by)) if by else Window.partitionBy()
    from ..core import _ocol

    return w.orderBy(*[_ocol(c) for c in order])


# Measured break-even for the hot-key chunk-stitches (SCALE.md "Skewed
# keys"; probes in `tools/measure.py chunk`): at 1M rows in ONE key the
# stitch is break-even-to-slightly-worse (frank 1.53s vs 1.68s, rleid
# 1.62s vs 1.75s, asof 1.5s -> 2.8s), at 10M it wins 3.3-6.7x. AUTO
# splits only safely past the crossover; the per-chunk target matches
# the probes' best configuration (10M rows / 32 chunks ~ 312k).
AUTO_CHUNK_BREAK_EVEN = 2_000_000
AUTO_CHUNK_TARGET = 250_000

# Probe memo: hottest-key count per (DataFrame, keys). Spark DataFrames
# are immutable, so a result cached against the DataFrame *object* can
# never go stale — any rebind (dt.df = transformed) produces a new
# object and therefore a cache miss. WeakKey so dropped frames free
# their entries.
import weakref

_PROBE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
#: number of probe Spark jobs actually run (test hook — chained auto
#: calls on the same frame+keys must pay the probe once)
_PROBE_JOBS = 0


def _carries_probe(fn):
    """Propagate the auto-chunk probe memo from an op's input frame to
    its output frame. Valid ONLY for row-preserving ops (column adds):
    the per-key row counts the probe measured are unchanged, so a
    chained ``n_chunks="auto"`` call on the result reuses the first
    call's probe instead of re-running the Spark job (round-10 verdict
    item 4 — froll_auto_chunks chains two frolls)."""
    import functools

    @functools.wraps(fn)
    def wrapper(dt, *args, **kwargs):
        out = fn(dt, *args, **kwargs)
        try:
            src = dt.df
            if out.df is not src:
                per = _PROBE_CACHE.get(src)
                if per:
                    _PROBE_CACHE.setdefault(out.df, {}).update(per)
        except AttributeError:  # non-DT in/out: nothing to carry
            pass
        return out

    return wrapper


def _resolve_n_chunks(
    sdf,
    keys,
    n_chunks,
    break_even: int = AUTO_CHUNK_BREAK_EVEN,
    target: int = AUTO_CHUNK_TARGET,
):
    """Resolve ``n_chunks="auto"`` to an int (split) or None (unsplit).

    One cheap probe aggregate — max rows in any window partition (total
    count when unpartitioned), the same pre-flight pattern as
    frolladaptive's n_max — decides against the MEASURED break-even:
    below it the single-task window wins and auto stays unsplit; above
    it the chunk count brings the hottest key to ~AUTO_CHUNK_TARGET
    rows per chunk, capped at the cluster's default parallelism (more
    chunks than slots only adds stitch overhead; on a 1-slot cluster
    auto never splits). Ints and None pass through untouched, so
    explicit callers keep exact control; any other string raises. The
    probe result is memoized per (frame, keys) — chained ordered ops on
    the same frame pay it once."""
    if isinstance(n_chunks, str):
        if n_chunks != "auto":
            raise ValueError(
                f"n_chunks must be an int, None, or 'auto' (got {n_chunks!r})"
            )
    else:
        return n_chunks
    cap = sdf.sparkSession.sparkContext.defaultParallelism
    if cap < 2:
        return None
    ckey = tuple(keys) if keys else ()
    per = _PROBE_CACHE.setdefault(sdf, {})
    m = per.get(ckey, -1)
    if m == -1:
        global _PROBE_JOBS
        _PROBE_JOBS += 1
        if keys:
            m = (
                sdf.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n__"))
                .agg(F.max("__n__").alias("m"))
                .collect()[0]["m"]
            )
        else:
            m = sdf.count()
        per[ckey] = m
    if not m or m <= break_even:
        return None
    return int(max(2, min(cap, -(-m // target))))


@_carries_probe
def shift(
    dt: DT,
    cols,
    n: int = 1,
    fill=None,
    type_: str = "lag",
    by=None,
    order=None,
    give_names: bool = True,
    n_chunks: int | str | None = None,
) -> DT:
    """shift — lag/lead with fill (reference R/shift.R:1, src/shift.c:4;
    grouped form is GForce gshift, src/gsumm.c:1195).

    type_: "lag" | "lead" | "cyclic" (cyclic wraps within the group,
    reference src/shift.c:4 "type cyclic"). ``n`` may be a sequence
    (reference: "n vector", R/shift.R) — one output column per n.

    ``n_chunks=`` (opt-in): the hot-key chunk-stitch (see froll) for
    lag/lead — halo width max|n|; the out-of-range fill positions come
    from the stitch's global rank/count columns, so fill semantics are
    identical. Not supported for cyclic (wrapping needs the whole
    group). ``n_chunks="auto"`` probes the hottest key and splits only
    past the measured break-even (see ``_resolve_n_chunks``).
    """
    if type_ == "cyclic":
        if n_chunks is not None and (n_chunks == "auto" or n_chunks > 1):
            raise ValueError("n_chunks does not support type_='cyclic'")
        return _shift_cyclic(dt, cols, n, by=by, order=order, give_names=give_names)
    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    ns = list(n) if isinstance(n, (list, tuple)) else [n]
    fn = F.lag if type_ == "lag" else F.lead

    def build(w, rn, cnt) -> dict:
        # fill applies ONLY beyond the group boundary (reference
        # src/shift.c: fill is the out-of-range value) — interior NULLs
        # in the data must shift through unchanged, so no coalesce.
        out = {}
        for c in _namelist(cols):
            for k in ns:
                name = f"{c}_{type_}_{k}" if give_names or len(ns) > 1 else c
                shifted = fn(F.col(c), k).over(w)
                if fill is not None:
                    # negative n flips the direction (lag(-1) ==
                    # lead(1), reference shift accepts negative n), so
                    # the out-of-bounds side flips with it
                    lag_like = (type_ == "lag") == (k > 0)
                    kk = abs(k)
                    oob = rn <= kk if lag_like else rn > cnt - kk
                    shifted = F.when(oob, F.lit(fill)).otherwise(shifted)
                out[name] = shifted
        return out

    if n_chunks is not None and n_chunks > 1:
        hw = max(abs(k) for k in ns)
        lag_side = any((type_ == "lag") == (k > 0) for k in ns)
        lead_side = any((type_ == "lag") != (k > 0) for k in ns)
        return _ordered_chunk_stitch(
            dt,
            lambda base: build(base, F.col("__grank__"), F.col("__gcnt__")),
            by=by, order=order, n_chunks=n_chunks,
            hw_lo=hw if lag_side else 0, hw_hi=hw if lead_side else 0,
            with_rank=fill is not None,
        )
    w = win(dt, by=by, order=order)
    rn = F.row_number().over(w)
    gw = Window.partitionBy(*_namelist(by)) if by else Window.partitionBy()
    cnt = F.count(F.lit(1)).over(gw)
    return DT(dt.df.withColumns(build(w, rn, cnt)), key=dt.key, order_by=dt.order_by)


def _shift_cyclic(dt: DT, cols, n: int, by=None, order=None, give_names=True) -> DT:
    """Cyclic shift (reference src/shift.c type="cyclic"): row i takes the
    value of row (i - n) mod group_size. Implemented as a modular
    self-join on row position — one extra shuffle, distributes per group
    (no per-row group arrays)."""
    w = win(dt, by=by, order=order)
    grp = _namelist(by)
    gw = Window.partitionBy(*grp) if grp else Window.partitionBy()
    df = dt.df.withColumn("__rn__", F.row_number().over(w)).withColumn(
        "__gn__", F.count(F.lit(1)).over(gw)
    )
    src = F.expr(f"((__rn__ - 1 - {n}) % __gn__ + __gn__) % __gn__ + 1")
    left = df.withColumn("__src__", src)
    cols = _namelist(cols)
    right = df.select(
        *[F.col(g) for g in grp],
        F.col("__rn__").alias("__src__"),
        *[F.col(c).alias(f"__cyc_{c}__") for c in cols],
    )
    joined = left.join(right, on=grp + ["__src__"], how="left")
    out = joined
    for c in cols:
        name = f"{c}_cyclic_{n}" if give_names else c
        out = out.withColumn(name, F.col(f"__cyc_{c}__"))
    out = out.drop("__rn__", "__gn__", "__src__", *[f"__cyc_{c}__" for c in cols])
    return DT(out, key=dt.key, order_by=dt.order_by)


_ROLL_FNS = {
    "mean": F.avg,
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
    "median": None,  # percentile within frame — see froll()
    "prod": None,    # product via sum-of-logs is lossy; use F.product
    "var": F.var_samp,
    "sd": F.stddev_samp,
}


@_carries_probe
def froll(
    dt: DT,
    fun: str,
    cols,
    n: int,
    by=None,
    order=None,
    align: str = "right",
    partial: bool = False,
    give_names: bool = True,
    na_rm: bool = False,
    n_chunks: int | str | None = None,
    nan_is_na: bool = True,
) -> DT:
    """frollmean/sum/... — fixed-width rolling aggregate (reference
    R/froll.R:158-224, src/froll.c:24).

    nan_is_na=True (default, reference parity: R `is.na(NaN)` is TRUE,
    nafill.Rraw 1.21/1.22 and froll.c's hasNA treat NaN as NA): NaN in
    a double column participates as NA — skipped under na.rm=TRUE,
    poisoning its windows under the default — instead of propagating
    Spark NaN arithmetic. The input column itself is untouched; only
    the window source expression is masked.

    align right/center/left (reference froll.c align handling); partial=False
    yields NULL until the window is full, matching the reference default
    (fill=NA for incomplete windows). Spark's WindowExec maintains the
    frame buffer — the analog of the reference's online-add/subtract
    "fast" algorithm (src/froll.c:40-42).

    na_rm mirrors the reference's na.rm: Spark window aggregates SKIP
    nulls natively (= na.rm=TRUE), so the reference DEFAULT — an NA
    anywhere in the window poisons that window's result to NA
    (src/froll.c hasNA branch) — is restored by masking windows where
    count(col) over the frame falls short of count(*). na_rm=True is
    the native skip behavior.

    ``n_chunks=`` (opt-in, SCALE.md "Skewed keys"): hot-key
    chunk-stitch. A window partition runs in ONE task — linear, but at
    the 1000x extrapolation a 1B-row key (or the by=None global order)
    is the wall. With n_chunks, each key's rows value-chunk on the
    first order column; the rolling frames run per (key, chunk) —
    n_chunks-way parallel — made EXACT by halo replication: each chunk
    also receives the max(n)-1 rows preceding (and, for center/left
    aligns, following) its value range, located via a cumulative-count
    chunk spine so sparse chunks chain through transitively. Output
    rows are identical to the unsplit path for every fun/align/
    partial/na_rm (pinned by test_froll_chunk_stitch); requires a
    numeric first order column. ``n_chunks="auto"`` probes the hottest
    key and splits only past the measured break-even
    (``_resolve_n_chunks``).
    """
    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    ns = list(n) if isinstance(n, (list, tuple)) else [n]

    def frame_bounds(k: int) -> tuple[int, int]:
        if align == "right":
            return -(k - 1), 0
        if align == "left":
            return 0, k - 1
        if align == "center":
            return -((k - 1) // 2), k - 1 - (k - 1) // 2
        raise ValueError(f"bad align: {align}")

    dtypes = dict(dt.df.dtypes)

    def _src(c: str):
        if nan_is_na and dtypes.get(c) in ("double", "float"):
            return F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(F.col(c))
        return F.col(c)

    def exprs(base: WindowSpec) -> dict:
        out = {}
        for k in ns:
            lo, hi = frame_bounds(k)
            w = base.rowsBetween(lo, hi)
            for c in _namelist(cols):
                name = f"{c}_roll{fun}_{k}" if give_names or len(ns) > 1 else c
                t = dtypes.get(c)
                is_f = t in ("double", "float")
                s = _src(c)
                if na_rm and fun in ("max", "min", "prod") and not is_f:
                    # reference frollmax/frollmin/prod always return
                    # double (src/froll.c computes in double), so the
                    # na.rm empty-window identities -Inf/+Inf/1 apply
                    # to INTEGER columns too — cast the source up
                    # (round-12 ADVICE fix; froll.Rraw 6000.x)
                    s = s.cast("double")
                    is_f = True
                if fun == "median":
                    # F.median rejects window FRAMES (Spark 4.x
                    # INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC);
                    # percentile(0.5) is frame-legal and identical
                    val = F.percentile(s, F.lit(0.5)).over(w)
                elif fun == "prod":
                    val = F.product(s).over(w)
                else:
                    val = _ROLL_FNS[fun](s).over(w)
                if not na_rm:
                    # reference default: any NA in the window -> NA result
                    val = F.when(
                        F.count(s).over(w) == F.count(F.lit(1)).over(w),
                        val,
                    )
                elif fun in ("mean", "sum", "max", "min", "prod"):
                    # R's empty-aggregate identities for a FULL window
                    # of only NAs under na.rm=TRUE (froll.Rraw 6000.066
                    # mean/sum; 6000.4242 frollmax -> -Inf; 6000.6242
                    # frollmin -> +Inf; base prod(numeric(0)) = 1).
                    # Spark's skip-null aggregate yields NULL there; the
                    # partial/full mask below still nulls incomplete
                    # windows, so only full all-NA windows are touched.
                    empty = None
                    if fun == "mean":
                        empty = F.lit(float("nan"))
                    elif fun == "sum":
                        empty = F.lit(0).cast("double" if is_f else "bigint")
                    elif fun == "max":
                        empty = F.lit(float("-inf"))
                    elif fun == "min":
                        empty = F.lit(float("inf"))
                    elif fun == "prod":
                        empty = F.lit(1.0)
                    if empty is not None:
                        val = F.coalesce(val, empty)
                if not partial:
                    val = F.when(F.count(F.lit(1)).over(w) >= k, val)
                out[name] = val
        return out

    if n_chunks is not None and n_chunks > 1:
        hw_lo = max(max(-frame_bounds(k)[0], 0) for k in ns)
        hw_hi = max(max(frame_bounds(k)[1], 0) for k in ns)
        return _ordered_chunk_stitch(
            dt, exprs, by=by, order=order, n_chunks=n_chunks,
            hw_lo=hw_lo, hw_hi=hw_hi,
        )
    base = win(dt, by=by, order=order)
    return DT(dt.df.withColumns(exprs(base)), key=dt.key, order_by=dt.order_by)


def _ordered_chunk_stitch(
    dt: DT, exprs, by, order, n_chunks: int, hw_lo: int, hw_hi: int,
    with_rank: bool = False,
) -> DT:
    """Exact chunk-split evaluation of fixed-width rolling frames (the
    SCALE.md hot-key mitigation, round-9 verdict item 3).

    1. rows value-chunk on the first order column (per-key min/max
       bounds broadcast; equal values share a chunk, so ties never
       straddle a boundary);
    2. each chunk is augmented with HALO copies of the hw_lo rows
       preceding / hw_hi rows following its value range. Halo sources
       are found through a cumulative-count chunk SPINE (tiny:
       keys x n_chunks rows), so a sparse chunk transitively pulls
       rows from several chunks back — exactness does not depend on
       chunk balance;
    3. the caller's window expressions evaluate over (keys, chunk)
       partitions — n_chunks-way parallel per key — and halo rows are
       dropped. Every real row's frame holds the identical row
       multiset as the unsplit window, so results are bit-identical.

    ``with_rank=True`` additionally provides every REAL row its GLOBAL
    per-key rank as ``__grank__`` and the key's total row count as
    ``__gcnt__`` (chunk-local rank + the spine's cumulative offset — no
    whole-key window), for callers whose expressions need boundary
    positions (shift's out-of-range fill). Halo rows carry NULLs there.
    """
    keys = _namelist(by)
    ordn = _namelist(order) or dt.order_by
    if not ordn:
        raise ValueError("n_chunks needs an ordering (order= or order_by)")
    first = ordn[0]
    desc = first.startswith("-")
    vcol = F.col(first[1:] if desc else first).cast("double")

    sdf = dt.df
    # NaN order values are excluded from the bounds (one NaN would make
    # width NaN and collapse EVERY row into the top chunk — exact but
    # unsplit, silently losing the parallelism this exists for; the
    # same rule as _chunked_frame). NaN rows themselves land in the
    # top chunk via the floor/least/greatest arithmetic below, which
    # matches Spark sorting NaN after +Inf under asc (and first under
    # desc, where pos/chunk traversal is already reversed).
    fin = F.when(~F.isnan(vcol), vcol)
    bcols = [F.min(fin).alias("__tlo__"), F.max(fin).alias("__thi__")]
    if keys:
        bounds = sdf.groupBy(*keys).agg(*bcols)
        sdf = sdf.join(F.broadcast(bounds), keys, "left")
    else:
        sdf = sdf.crossJoin(F.broadcast(sdf.agg(*bcols)))
    width = (F.col("__thi__") - F.col("__tlo__")) / F.lit(float(n_chunks))
    pos = (F.col("__thi__") - vcol) if desc else (vcol - F.col("__tlo__"))
    # NaN order rows go to the chunk the GLOBAL sort puts them in: Spark
    # sorts NaN after +Inf, so last chunk under asc, chunk 0 under desc
    # (chunk index follows sort direction via `pos`). Without this,
    # greatest(0, floor(NaN/width)) evaluates to 0 and a NaN row lands
    # in chunk 0 while sorting LAST within it — shifting the spine
    # counts and poisoning the next chunk's halo
    # (test_halo_stitch_nan_order_value).
    nan_chunk = F.lit(0) if desc else F.lit(n_chunks - 1)
    # NULL order values: asc sorts NULLS FIRST (chunk 0), `.desc()` is
    # NULLS LAST (last chunk) — same global-position rule as NaN. Both
    # MUST be routed before the arithmetic: F.greatest/F.least SKIP
    # null arguments (and floor(NaN) IS null), so greatest(0,
    # floor(NULL/width)) silently evaluates to 0 and a trailing-sorted
    # row lands in a leading chunk — shifting the spine counts and
    # poisoning the next chunk's halo (test_halo_stitch_nan_order_value
    # covers all four direction x NaN/NULL cases).
    null_chunk = F.lit(n_chunks - 1) if desc else F.lit(0)
    sdf = sdf.withColumn(
        "__chunk__",
        F.when(vcol.isNotNull() & F.isnan(vcol), nan_chunk)
        .when(vcol.isNull(), null_chunk)
        .otherwise(
            F.when(
                F.col("__tlo__").isNull() | (width <= 0), F.lit(0)
            ).otherwise(
                F.least(
                    F.lit(n_chunks - 1),
                    F.greatest(F.lit(0), F.floor(pos / width)),
                )
            )
        ).cast("int"),
    ).drop("__tlo__", "__thi__")

    ocols = [_c for _c in ordn]
    from ..core import _ocol

    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(c) for c in ocols]
    )
    w_cnt = Window.partitionBy(*keys, "__chunk__")
    ranked = sdf.withColumn("__rna__", F.row_number().over(w_in)).withColumn(
        "__cnt__", F.count(F.lit(1)).over(w_cnt)
    )

    spine = sdf.groupBy(*keys, "__chunk__").agg(
        F.count(F.lit(1)).alias("__scnt__")
    )
    wsp = (
        Window.partitionBy(*keys)
        .orderBy("__chunk__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spine = spine.withColumn("__cum__", F.sum("__scnt__").over(wsp))

    def keyeq(a, b):
        conds = [F.col(f"{a}.{k}").eqNullSafe(F.col(f"{b}.{k}")) for k in keys]
        pred = F.lit(True)
        for c in conds:
            pred = pred & c
        return pred

    base_cols = [*dt.df.columns, "__chunk__"]
    real = ranked.select(*base_cols, "__rna__").withColumn(
        "__halo__", F.lit(False)
    )
    if with_rank:
        offs = spine.select(
            *keys, "__chunk__",
            (F.col("__cum__") - F.col("__scnt__")).alias("__off__"),
        )
        real = real.join(F.broadcast(offs), [*keys, "__chunk__"], "left")
        totals = spine.groupBy(*keys).agg(F.max("__cum__").alias("__gcnt__"))
        if keys:
            real = real.join(F.broadcast(totals), keys, "left")
        else:
            real = real.crossJoin(F.broadcast(totals))
        real = real.withColumn(
            "__grank__", (F.col("__rna__") + F.col("__off__")).cast("long")
        ).drop("__off__")
    real = real.drop("__rna__")
    parts = [real]

    if hw_lo > 0:
        # source chunk c -> target chunk c' > c with fewer than hw_lo
        # rows in the chunks strictly between (gap = cum(c'-1) - cum(c))
        s_src = spine.alias("__s__")
        s_tgt = spine.alias("__g__")
        pairs = s_src.join(
            s_tgt,
            keyeq("__s__", "__g__")
            & (F.col("__g__.__chunk__") > F.col("__s__.__chunk__"))
            & (
                F.col("__g__.__cum__") - F.col("__g__.__scnt__")
                - F.col("__s__.__cum__")
                < hw_lo
            ),
        ).select(
            *[F.col(f"__s__.{k}") for k in keys],
            F.col("__s__.__chunk__").alias("__c_src__"),
            F.col("__g__.__chunk__").alias("__c_tgt__"),
            (
                F.col("__g__.__cum__") - F.col("__g__.__scnt__")
                - F.col("__s__.__cum__")
            ).alias("__gap__"),
        )
        cand = ranked.filter(F.col("__cnt__") - F.col("__rna__") < hw_lo)
        on = cand["__chunk__"] == pairs["__c_src__"]
        for k in keys:
            on = on & cand[k].eqNullSafe(pairs[k])
        halos = cand.join(F.broadcast(pairs), on).filter(
            F.col("__cnt__") - F.col("__rna__") + F.col("__gap__") < hw_lo
        )
        parts.append(
            halos.select(
                *[cand[c] for c in dt.df.columns],
                F.col("__c_tgt__").alias("__chunk__"),
            ).withColumn("__halo__", F.lit(True))
        )

    if hw_hi > 0:
        # mirror: target chunk c' < c, rows between = rna-1 + gap
        s_src = spine.alias("__s__")
        s_tgt = spine.alias("__g__")
        pairs = s_src.join(
            s_tgt,
            keyeq("__s__", "__g__")
            & (F.col("__g__.__chunk__") < F.col("__s__.__chunk__"))
            & (
                F.col("__s__.__cum__") - F.col("__s__.__scnt__")
                - F.col("__g__.__cum__")
                < hw_hi
            ),
        ).select(
            *[F.col(f"__s__.{k}") for k in keys],
            F.col("__s__.__chunk__").alias("__c_src__"),
            F.col("__g__.__chunk__").alias("__c_tgt__"),
            (
                F.col("__s__.__cum__") - F.col("__s__.__scnt__")
                - F.col("__g__.__cum__")
            ).alias("__gap__"),
        )
        cand = ranked.filter(F.col("__rna__") - 1 < hw_hi)
        on = cand["__chunk__"] == pairs["__c_src__"]
        for k in keys:
            on = on & cand[k].eqNullSafe(pairs[k])
        halos = cand.join(F.broadcast(pairs), on).filter(
            F.col("__rna__") - 1 + F.col("__gap__") < hw_hi
        )
        parts.append(
            halos.select(
                *[cand[c] for c in dt.df.columns],
                F.col("__c_tgt__").alias("__chunk__"),
            ).withColumn("__halo__", F.lit(True))
        )

    aug = parts[0]
    for p in parts[1:]:
        # halo parts lack __grank__/__gcnt__ (with_rank): null-filled
        aug = aug.unionByName(p, allowMissingColumns=True)
    base = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(c) for c in ocols]
    )
    out = (
        aug.withColumns(exprs(base))
        .filter(~F.col("__halo__"))
        .drop("__chunk__", "__halo__", "__grank__", "__gcnt__")
    )
    return DT(out, key=dt.key, order_by=dt.order_by)


def frollmean(dt, cols, n, **kw):
    return froll(dt, "mean", cols, n, **kw)


def frollsum(dt, cols, n, **kw):
    return froll(dt, "sum", cols, n, **kw)


def frollmax(dt, cols, n, **kw):
    return froll(dt, "max", cols, n, **kw)


def frollmin(dt, cols, n, **kw):
    return froll(dt, "min", cols, n, **kw)


def frollprod(dt, cols, n, **kw):
    return froll(dt, "prod", cols, n, **kw)


def frollvar(dt, cols, n, **kw):
    return froll(dt, "var", cols, n, **kw)


def frollsd(dt, cols, n, **kw):
    return froll(dt, "sd", cols, n, **kw)


@_carries_probe
def frank(
    dt: DT,
    col,
    ties: str = "average",
    by=None,
    desc: bool = False,
    out_col: str = "rank",
    order: int | None = None,
    tiebreak=None,
    seed: int = 0,
    na_last=True,
    n_chunks: int | str | None = None,
    nan_is_na: bool = True,
) -> DT:
    """frank — ranking with data.table tie methods (reference R/frank.R:1,
    src/frank.c:112).

    ties: average | first | last | min (data.table "min") | max |
    dense | random. ties="last" mirrors "first" with the tie group
    numbered in reverse; like the reference's appearance-order rule it
    is only deterministic here with ``tiebreak=`` columns (documented
    adaptation — a distributed table has no appearance order).

    na_last (reference frank na.last, default TRUE — R/frank.R:1,:76):
    True ranks NAs last as one tie group (the reference sorts NAs last
    via forderv then applies ties.method to the NA group —
    R/frank.R:52); False ranks them first; "keep" ranks NAs as NA —
    non-NA ranks are computed among non-NAs only (one partition-wide
    null count subtracted, no second sort); None (reference
    na.last=NA, R/frank.R:70) drops NA rows from the output entirely.

    nan_is_na (reference is.na(NaN) is TRUE): NaN in a float/double
    ranked column is treated as missing, but NaN and NA form two
    ADJACENT tie groups, NA outermost (tests.Rraw 1988.1-.4 — "we
    consider NAs to be tied, ditto NaN"): na_last=True ranks values,
    then the NaN group, then the NA group; na_last=False ranks the NA
    group first, then NaN, then values. Implemented as a two-level
    sort key (missing-level 0=value/1=NaN/2=NA, ascending under
    na_last=True, descending under False) threaded through every tie
    method; tie groups themselves need no extra key because Spark's
    grouping/ordering already treats NaN==NaN and NULL==NULL. Under
    na_last="keep"/None both NaN and NA are missing (reference
    is_na(), R/frank.R:32): "keep" ranks both as NA, None drops both —
    those paths mask NaN to NULL. nan_is_na=False ranks NaN as Spark
    orders it (a value after +Inf).

    ``n_chunks=`` (opt-in, SCALE.md "Skewed keys"): hot-key chunk
    stitch for ranking — a rank window runs ONE task per key; with
    n_chunks the rows value-chunk on the ranked column (tie groups
    never straddle a chunk boundary by construction), ranks compute
    per (key, chunk), and the global rank is chunk rank + a spine
    offset (cumulative row count; cumulative distinct count for
    dense). Exact for every tie method and every na_last (NAs take a
    dedicated chunk that traverses first for False/"keep" and last for
    True).

    ties="random" (reference breaks ties with the R RNG stream) is
    adapted to a SEEDED deterministic permutation: ties are ordered by
    md5(seed ':' tiebreak-key), a uniform pseudo-random draw that is
    reproducible across runs, partitionings, and engines (the DuckDB
    oracle computes the identical hash). Requires ``tiebreak=`` columns
    forming a unique key — random tie-breaking on a distributed engine
    is only well-defined relative to stable row identity.
    ``n_chunks="auto"``: see ``_resolve_n_chunks``.
    """
    if isinstance(col, (list, tuple)):
        return _frank_multi(
            dt, list(col), ties=ties, by=by, desc=desc, out_col=out_col,
            tiebreak=tiebreak, seed=seed, na_last=na_last, order=order,
            n_chunks=n_chunks,
        )
    if order is not None:
        # frankv order= (reference #5489, tests.Rraw 2386): -1 ranks
        # descending; takes precedence over desc= with the reference's
        # warning when both are given
        order = int(order)
        if order not in (1, -1):
            raise ValueError("order must be +1 or -1")
        if desc:
            import warnings

            warnings.warn(
                "Both desc= and 'order' argument are provided; 'order'"
                " will take precedence.",
                RuntimeWarning,
            )
        desc = order == -1
    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    handle_nan = nan_is_na and dict(dt.df.dtypes).get(col) in (
        "float", "double",
    )
    if handle_nan and (na_last == "keep" or na_last is None):
        # reference is_na() treats NaN as NA (R/frank.R:32): "keep"
        # ranks both as NA, None drops both — mask NaN to NULL in a
        # temporary rank-source column and recurse
        src = "__rksrc__"
        masked = dt.df.withColumn(
            src,
            F.when(F.isnan(F.col(col)), F.lit(None)).otherwise(F.col(col)),
        )
        out = frank(
            DT(masked, key=dt.key, order_by=dt.order_by), src, ties=ties,
            by=by, desc=desc, out_col=out_col, tiebreak=tiebreak, seed=seed,
            na_last=na_last, n_chunks=n_chunks, nan_is_na=False,
        )
        return DT(out.df.drop(src), key=dt.key, order_by=dt.order_by)
    if na_last is None:
        # reference na.last=NA: remove NAs before ranking (R/frank.R:70)
        kept = DT(
            dt.df.where(F.col(col).isNotNull()),
            key=dt.key, order_by=dt.order_by,
        )
        return frank(
            kept, col, ties=ties, by=by, desc=desc, out_col=out_col,
            tiebreak=tiebreak, seed=seed, na_last=True, n_chunks=n_chunks,
            nan_is_na=False,
        )
    if n_chunks is not None and n_chunks > 1:
        return _frank_chunked(
            dt, col, ties, by, desc, out_col, tiebreak, seed, na_last,
            n_chunks, handle_nan,
        )
    if handle_nan:
        # two-level missing key (tests.Rraw 1988): NA outermost, NaN
        # adjacent — na_last=True → values, NaN, NA; False → NA, NaN,
        # values (block order fixed regardless of desc). Ties need no
        # extra key: ordering comparison already has NaN==NaN,
        # NULL==NULL, so rank()/dense_rank() group them.
        lvl = (
            F.when(F.col(col).isNull(), F.lit(2))
            .when(F.isnan(F.col(col)), F.lit(1))
            .otherwise(F.lit(0))
        )
        ocs = [
            lvl.asc() if na_last is True else lvl.desc(),
            F.col(col).desc() if desc else F.col(col).asc(),
        ]
    elif na_last is True:
        ocs = [
            F.col(col).desc_nulls_last()
            if desc
            else F.col(col).asc_nulls_last()
        ]
    else:
        # False and "keep" both sort nulls first; "keep" masks below
        ocs = [
            F.col(col).desc_nulls_first()
            if desc
            else F.col(col).asc_nulls_first()
        ]
    part = Window.partitionBy(*_namelist(by)) if by else Window.partitionBy()
    w = part.orderBy(*ocs)
    if ties == "random":
        if not tiebreak:
            raise ValueError(
                "ties='random' needs tiebreak= unique-key columns for a "
                "deterministic seeded permutation"
            )
        salt = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                *[F.col(t).cast("string") for t in _namelist(tiebreak)],
            )
        )
        r = F.row_number().over(part.orderBy(*ocs, salt.asc()))
    elif ties in ("first", "last"):
        # "last" numbers the tie group in reverse (reference
        # src/frank.c ties.method="last"); with tiebreak= the order
        # within ties is pinned (asc for first, desc for last),
        # otherwise it is engine order (documented nondeterminism)
        if tiebreak:
            tb = [
                F.col(t).asc() if ties == "first" else F.col(t).desc()
                for t in _namelist(tiebreak)
            ]
            r = F.row_number().over(part.orderBy(*ocs, *tb))
        else:
            r = F.row_number().over(w)
    elif ties == "min":
        r = F.rank().over(w)
    elif ties == "dense":
        r = F.dense_rank().over(w)
    elif ties == "max":
        # max rank of the tie group = rank + count(ties) - 1 (tie count
        # cast int: rank dtypes stay IntegerType like the other methods)
        tie_w = Window.partitionBy(*(_namelist(by) + [col]))
        r = F.rank().over(w) + F.count(F.lit(1)).over(tie_w).cast("int") - 1
    elif ties == "average":
        tie_w = Window.partitionBy(*(_namelist(by) + [col]))
        r = (
            (2 * F.rank().over(w) + F.count(F.lit(1)).over(tie_w) - 1) / 2
        ).cast("double")
    else:
        raise ValueError(f"bad ties: {ties}")
    if na_last == "keep":
        # cast the partition null count back to int so integer rank
        # dtypes don't widen to bigint under the shift
        nn = F.sum(F.col(col).isNull().cast("int")).over(part).cast("int")
        shift = (nn > 0).cast("int") if ties == "dense" else nn
        r = F.when(F.col(col).isNull(), F.lit(None)).otherwise(r - shift)
    return DT(dt.df.withColumn(out_col, r), key=dt.key, order_by=dt.order_by)


def _frank_multi(
    dt: DT, cols, ties, by, out_col, na_last, order=None, desc=False,
    tiebreak=None, seed: int = 0, n_chunks=None,
) -> DT:
    """frankv(cols=, order=) — MULTI-COLUMN lexicographic ranking
    (reference R/frank.R frankv cols=; tests.Rraw 2386.05, round-13
    port). A tie is a row equal on ALL ranked columns (Spark's
    ordering/grouping already treats NaN==NaN and NULL==NULL). Per
    float/double column the NaN/NA two-level key applies (NA outermost,
    NaN adjacent — the 1988 forder rule), other dtypes use
    nulls_first/last placement. ``order`` is ±1 per column (a scalar
    recycles); ``desc=True`` recycles -1 and yields to ``order=`` with
    the same precedence warning as the single-column form.

    Documented subset: ``na_last`` must be True or False ("keep"/None
    are single-column semantics — whether a row is "missing" is
    ambiguous across columns) and ``n_chunks=`` is single-column only
    (the value-chunk spine needs one ranked domain)."""
    if n_chunks not in (None, 1):
        raise ValueError(
            "n_chunks= chunk-stitching is single-column only"
        )
    if na_last not in (True, False):
        raise ValueError(
            "multi-column frank supports na_last=True/False only "
            "(row-missingness is ambiguous across columns)"
        )
    n = len(cols)
    if order is None:
        orders = [-1 if desc else 1] * n
    else:
        if desc:
            import warnings

            warnings.warn(
                "Both desc= and 'order' argument are provided; 'order'"
                " will take precedence.",
                RuntimeWarning,
            )
        orders = (
            [int(order)] * n
            if isinstance(order, int)
            else [int(o) for o in order]
        )
        if len(orders) != n:
            raise ValueError("order length must match cols")
    if any(o not in (1, -1) for o in orders):
        raise ValueError("order must be +1 or -1")
    dtypes = dict(dt.df.dtypes)
    ocs = []
    for c, o in zip(cols, orders):
        d = o == -1
        if dtypes.get(c) in ("float", "double"):
            lvl = (
                F.when(F.col(c).isNull(), F.lit(2))
                .when(F.isnan(F.col(c)), F.lit(1))
                .otherwise(F.lit(0))
            )
            ocs.append(lvl.asc() if na_last else lvl.desc())
            ocs.append(F.col(c).desc() if d else F.col(c).asc())
        elif na_last:
            ocs.append(
                F.col(c).desc_nulls_last() if d
                else F.col(c).asc_nulls_last()
            )
        else:
            ocs.append(
                F.col(c).desc_nulls_first() if d
                else F.col(c).asc_nulls_first()
            )
    part = (
        Window.partitionBy(*_namelist(by)) if by else Window.partitionBy()
    )
    w = part.orderBy(*ocs)
    tie_w = Window.partitionBy(*(_namelist(by) + [str(c) for c in cols]))
    if ties == "random":
        if not tiebreak:
            raise ValueError(
                "ties='random' needs tiebreak= unique-key columns for a "
                "deterministic seeded permutation"
            )
        salt = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                *[F.col(t).cast("string") for t in _namelist(tiebreak)],
            )
        )
        r = F.row_number().over(part.orderBy(*ocs, salt.asc()))
    elif ties in ("first", "last"):
        if tiebreak:
            tb = [
                F.col(t).asc() if ties == "first" else F.col(t).desc()
                for t in _namelist(tiebreak)
            ]
            r = F.row_number().over(part.orderBy(*ocs, *tb))
        else:
            r = F.row_number().over(w)
    elif ties == "min":
        r = F.rank().over(w)
    elif ties == "dense":
        r = F.dense_rank().over(w)
    elif ties == "max":
        r = F.rank().over(w) + F.count(F.lit(1)).over(tie_w).cast("int") - 1
    elif ties == "average":
        r = (
            (2 * F.rank().over(w) + F.count(F.lit(1)).over(tie_w) - 1) / 2
        ).cast("double")
    else:
        raise ValueError(f"bad ties: {ties}")
    return DT(dt.df.withColumn(out_col, r), key=dt.key, order_by=dt.order_by)


def _frank_chunked(
    dt: DT, col, ties, by, desc, out_col, tiebreak, seed, na_last,
    n_chunks: int, handle_nan: bool = False,
) -> DT:
    """Chunk-stitched frank (see frank's n_chunks doc). Value chunks
    come from the shared _chunked_frame (equal values share a chunk,
    so tie groups never straddle a boundary — tie counts and dense
    groups stay chunk-local facts); NULLs move to a dedicated chunk —
    and, when NaN is missing (handle_nan), NaNs move to a SECOND
    dedicated chunk adjacent to it, NA outermost (tests.Rraw 1988) —
    that traverses FIRST for na_last False/"keep" and LAST for
    na_last=True (the reference sorts NAs last as one tie group —
    R/frank.R:52). Global rank = within-(key, chunk) rank + the
    spine's cumulative row count before the chunk (cumulative
    distinct-value count for dense)."""
    if ties == "random" and not tiebreak:
        raise ValueError(
            "ties='random' needs tiebreak= unique-key columns for a "
            "deterministic seeded permutation"
        )
    sdf, keys, _ = _chunked_frame(dt, by, order=[col], n_chunks=n_chunks)
    chunk = F.when(F.col(col).isNull(), F.lit(-1)).otherwise(
        F.col("__chunk__")
    )
    if handle_nan:
        # NaN gets its own chunk (-2): one tie group adjacent to the
        # NA chunk, inside it in traversal order (values, NaN, NA
        # under na_last=True; NA, NaN, values under False)
        chunk = (
            F.when(F.col(col).isNull(), F.lit(-1))
            .when(F.isnan(F.col(col)), F.lit(-2))
            .otherwise(F.col("__chunk__"))
        )
    sdf = sdf.withColumn("__chunk__", chunk)
    # traversal key: ascending value order (or negated for desc), with
    # the null (and NaN) chunk pinned first (na_last False/"keep") or
    # last (na_last=True) regardless of direction — NA outermost
    null_first = na_last is not True
    if desc:
        null_tk = F.lit(-(n_chunks + 2)) if null_first else F.lit(2)
        nan_tk = F.lit(-(n_chunks + 1)) if null_first else F.lit(1)
        tk = (
            F.when(F.col("__chunk__") == -1, null_tk)
            .when(F.col("__chunk__") == -2, nan_tk)
            .otherwise(-F.col("__chunk__"))
        )
    else:
        null_tk = F.lit(-2) if null_first else F.lit(n_chunks + 1)
        nan_tk = F.lit(-1) if null_first else F.lit(n_chunks)
        tk = (
            F.when(F.col("__chunk__") == -1, null_tk)
            .when(F.col("__chunk__") == -2, nan_tk)
            .otherwise(F.col("__chunk__"))
        )
    sdf = sdf.withColumn("__tk__", tk)

    spine = sdf.groupBy(*keys, "__tk__").agg(
        F.count(F.lit(1)).alias("__cnt__"),
        (
            F.count_distinct(F.col(col))
            + F.max(F.col(col).isNull().cast("long"))
        ).alias("__nd__"),
        F.sum(F.col(col).isNull().cast("long")).alias("__nulls__"),
    )
    wsp = (
        Window.partitionBy(*keys)
        .orderBy("__tk__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(*keys).orderBy("__tk__").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = spine.select(
        *keys, "__tk__",
        F.coalesce(F.sum("__cnt__").over(wsp), F.lit(0)).alias("__rb__"),
        F.coalesce(F.sum("__nd__").over(wsp), F.lit(0)).alias("__db__"),
        F.sum("__nulls__").over(wall).alias("__nn__"),
    )
    sdf = sdf.join(F.broadcast(offs), [*keys, "__tk__"], "left")

    c = F.col(col).desc_nulls_first() if desc else F.col(col).asc_nulls_first()
    w_c = Window.partitionBy(*keys, "__tk__").orderBy(c)
    if ties == "random":
        salt = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                *[F.col(t).cast("string") for t in _namelist(tiebreak)],
            )
        )
        r = F.row_number().over(
            Window.partitionBy(*keys, "__tk__").orderBy(c, salt.asc())
        ) + F.col("__rb__")
    elif ties in ("first", "last"):
        if tiebreak:
            tb = [
                F.col(t).asc() if ties == "first" else F.col(t).desc()
                for t in _namelist(tiebreak)
            ]
            r = F.row_number().over(
                Window.partitionBy(*keys, "__tk__").orderBy(c, *tb)
            ) + F.col("__rb__")
        else:
            r = F.row_number().over(w_c) + F.col("__rb__")
    elif ties == "min":
        r = F.rank().over(w_c) + F.col("__rb__")
    elif ties == "dense":
        r = F.dense_rank().over(w_c) + F.col("__db__")
    elif ties == "max":
        tie_w = Window.partitionBy(*(_namelist(by) + [col]))
        r = (
            F.rank().over(w_c) + F.col("__rb__")
            + F.count(F.lit(1)).over(tie_w) - 1
        )
    elif ties == "average":
        tie_w = Window.partitionBy(*(_namelist(by) + [col]))
        r = (
            (
                2 * (F.rank().over(w_c) + F.col("__rb__"))
                + F.count(F.lit(1)).over(tie_w) - 1
            ) / 2
        ).cast("double")
    else:
        raise ValueError(f"bad ties: {ties}")
    if ties != "average":
        # unsplit rank()/dense_rank()/row_number() are IntegerType; the
        # long spine offsets must not widen the output schema
        r = r.cast("int")
    if na_last == "keep":
        shift = (
            (F.col("__nn__") > 0).cast("int")
            if ties == "dense"
            else F.col("__nn__")
        )
        r = F.when(F.col(col).isNull(), F.lit(None)).otherwise(r - shift)
        if ties != "average":
            r = r.cast("int")
    out = sdf.withColumn(out_col, r).drop(
        "__chunk__", "__tk__", "__rb__", "__db__", "__nn__"
    )
    return DT(out, key=dt.key, order_by=dt.order_by)


@_carries_probe
def rleid(
    dt: DT, cols, by=None, order=None, out_col: str = "rleid",
    n_chunks: int | str | None = None,
) -> DT:
    """rleid — run-length group id over the declared order (reference
    R/data.table.R:3292, src/uniqlist.c:170). Change-flag + running sum.

    ``n_chunks=`` (opt-in, SCALE.md "Skewed keys"): hot-key chunk
    stitch — run ids compute per (key, value-chunk) and stitch through
    a tiny spine carrying each chunk's run count plus its first/last
    run values; a run straddling a chunk boundary is merged by the
    spine's null-safe first==prev-last comparison (exact; chains
    through any number of chunks because the correction is cumulative).
    ``n_chunks="auto"``: see ``_resolve_n_chunks``.
    """
    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    if n_chunks is not None and n_chunks > 1:
        return _rleid_chunked(dt, cols, by, order, out_col, n_chunks)
    w = win(dt, by=by, order=order)
    cum_w = w.rowsBetween(Window.unboundedPreceding, 0)
    cols = _namelist(cols)
    chg = None
    for c in cols:
        prev = F.lag(F.col(c)).over(w)
        # null-safe inequality: NA starts a new run only on actual change
        d = ~F.col(c).eqNullSafe(prev)
        chg = d if chg is None else (chg | d)
    flag = F.when(F.lag(F.col(cols[0])).over(w).isNull() & (F.row_number().over(w) == 1), 1).otherwise(
        F.when(chg, 1).otherwise(0)
    )
    return DT(
        dt.df.withColumn(out_col, F.sum(flag).over(cum_w).cast("long")),
        key=dt.key,
        order_by=dt.order_by,
    )


def _rleid_chunked(
    dt: DT, cols, by, order, out_col: str, n_chunks: int
) -> DT:
    """Chunk-stitched rleid (see rleid's n_chunks doc). Within-chunk
    run ids + spine offsets: offset(c) = cumulative run count of the
    chunks before c MINUS the cumulative count of boundary merges up
    to and including c's own leading boundary (a run straddling k
    boundaries loses k double-counts — the cumulative form chains
    exactly)."""
    from ..core import _ocol

    names = _namelist(cols)
    sdf, keys, ordn = _chunked_frame(dt, by, order, n_chunks)
    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(c) for c in ordn]
    )
    cum_in = w_in.rowsBetween(Window.unboundedPreceding, 0)
    chg = None
    for c in names:
        d = ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w_in))
        chg = d if chg is None else (chg | d)
    rn = F.row_number().over(w_in)
    flag = F.when(rn == 1, 1).otherwise(F.when(chg, 1).otherwise(0))
    packed = F.struct(*[F.col(c) for c in names])
    local = (
        sdf.withColumn("__lrle__", F.sum(flag).over(cum_in).cast("long"))
        .withColumn("__rn__", rn)
    )
    spine = local.groupBy(*keys, "__chunk__").agg(
        F.max("__lrle__").alias("__runs__"),
        F.min_by(packed, F.col("__rn__")).alias("__first__"),
        F.max_by(packed, F.col("__rn__")).alias("__last__"),
    )
    desc0 = ordn[0].startswith("-")
    wsp = Window.partitionBy(*keys).orderBy(
        F.col("__chunk__").desc() if desc0 else F.col("__chunk__").asc()
    )
    prev_last = F.lag("__last__").over(wsp)
    # field-wise null-safe equality (a struct EqualNullSafe would treat
    # a struct with null FIELDS as a plain value; the run semantics are
    # per-column NA == NA)
    eq = F.lit(True)
    for c in names:
        eq = eq & F.col("__first__")[c].eqNullSafe(prev_last[c])
    merge = F.when(prev_last.isNotNull() & eq, F.lit(1)).otherwise(F.lit(0))
    spine = spine.withColumn(
        "__off__",
        (
            F.coalesce(
                F.sum("__runs__").over(
                    wsp.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            - F.sum(merge).over(wsp.rowsBetween(Window.unboundedPreceding, 0))
        ).cast("long"),
    ).select(*keys, "__chunk__", "__off__")
    out = (
        local.join(F.broadcast(spine), [*keys, "__chunk__"], "left")
        .withColumn(out_col, (F.col("__lrle__") + F.col("__off__")).cast("long"))
        .drop("__chunk__", "__lrle__", "__rn__", "__off__")
    )
    return DT(out, key=dt.key, order_by=dt.order_by)


@_carries_probe
def rowid(
    dt: DT, cols, out_col: str = "rowid", order=None,
    n_chunks: int | str | None = None,
) -> DT:
    """rowid/rowidv — 1-based counter within duplicate group (reference
    R/data.table.R:3267-3291). Partitioned by the id columns →
    distributes. ``n_chunks=`` swaps the per-group row_number for the
    chunked-rank carry (``_chunked_row_number``) on a hot group; "auto"
    probes the break-even."""
    order = _namelist(order) or dt.order_by
    if not order:
        raise ValueError("rowid needs a declared order for determinism")
    n_chunks = _resolve_n_chunks(dt.df, _namelist(cols), n_chunks)
    if n_chunks is not None and n_chunks > 1:
        return DT(
            _chunked_row_number(dt, cols, order, n_chunks, out=out_col),
            key=dt.key,
            order_by=dt.order_by,
        )
    from ..core import _ocol

    w = Window.partitionBy(*_namelist(cols)).orderBy(*[_ocol(c) for c in order])
    return DT(
        dt.df.withColumn(out_col, F.row_number().over(w)),
        key=dt.key,
        order_by=dt.order_by,
    )


def _chunked_frame(dt: DT, by, order, n_chunks: int):
    """Shared chunk assignment for the running-operator carry stitch:
    value-chunk each key's rows on the first order column (equal values
    share a chunk). NaN order values are excluded from the min/max
    bounds (a single NaN would otherwise poison the chunk width) and
    routed to the HIGHEST chunk — consistent with Spark ordering NaN
    after +Inf under asc (and first under desc, which consumers express
    by reversing chunk traversal). Returns (df+__chunk__, keys, order
    names)."""
    keys = _namelist(by)
    ordn = _namelist(order) or dt.order_by
    if not ordn:
        raise ValueError("n_chunks needs an ordering (order= or order_by)")
    first = ordn[0]
    vcol = F.col(first[1:] if first.startswith("-") else first).cast("double")
    sdf = dt.df
    fin = F.when(~F.isnan(vcol), vcol)  # NULL for NaN, pass-through else
    bcols = [F.min(fin).alias("__tlo__"), F.max(fin).alias("__thi__")]
    if keys:
        sdf = sdf.join(F.broadcast(sdf.groupBy(*keys).agg(*bcols)), keys, "left")
    else:
        sdf = sdf.crossJoin(F.broadcast(sdf.agg(*bcols)))
    width = (F.col("__thi__") - F.col("__tlo__")) / F.lit(float(n_chunks))
    sdf = sdf.withColumn(
        "__chunk__",
        F.when(vcol.isNotNull() & F.isnan(vcol), F.lit(n_chunks - 1))
        .otherwise(
            F.coalesce(
                F.when(F.col("__tlo__").isNull() | (width <= 0), F.lit(0))
                .otherwise(
                    F.least(
                        F.lit(n_chunks - 1),
                        F.greatest(
                            F.lit(0),
                            F.floor((vcol - F.col("__tlo__")) / width),
                        ),
                    )
                ),
                F.lit(0),
            )
        ).cast("int"),
    ).drop("__tlo__", "__thi__")
    return sdf, keys, ordn


def _running_fill_chunked(
    dt: DT, cols, by, order, suffix: str, n_chunks: int, reverse: bool
) -> DT:
    """Chunk-stitched LOCF/NOCB (the hot-key mitigation for running
    fills — round-9 verdict item 3, same carry-in shape as
    asof_join(n_chunks=)): per-(key, chunk) running fill + a per-column
    last-non-null chunk summary (rank-keyed max_by), carried across the
    tiny chunk spine by one window and broadcast back; output =
    coalesce(in-chunk fill, carry). Exact for every column
    independently (NULL runs spanning several chunks chain through the
    spine's last(ignorenulls))."""
    from ..core import _ocol, _oflip

    sdf, keys, ordn = _chunked_frame(dt, by, order, n_chunks)
    names = _namelist(cols)
    # NaN participates as NA (same rule as the unsplit path's _nan_na);
    # masked into temp source columns so an original column kept in the
    # output (suffix != "") is untouched
    dtypes = dict(sdf.dtypes)
    sdf = sdf.withColumns({
        f"__src_{c}__": (
            F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(F.col(c))
            if dtypes.get(c) in ("double", "float")
            else F.col(c)
        )
        for c in names
    })
    eff = [_oflip(c) for c in ordn] if reverse else list(ordn)
    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(c) for c in eff]
    )
    frame = w_in.rowsBetween(Window.unboundedPreceding, 0)
    rn = F.row_number().over(w_in)
    ranked = sdf.withColumn("__rn__", rn)
    aggs = [
        F.max_by(
            F.col(f"__src_{c}__"),
            F.when(F.col(f"__src_{c}__").isNotNull(), F.col("__rn__")),
        ).alias(f"__end_{c}__")
        for c in names
    ]
    ends = ranked.groupBy(*keys, "__chunk__").agg(*aggs)
    spine = sdf.select(*keys, "__chunk__").distinct().join(
        ends, [*keys, "__chunk__"], "left"
    )
    wsp = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__chunk__").desc() if reverse else F.col("__chunk__").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = spine.select(
        *keys, "__chunk__",
        *[
            F.last(f"__end_{c}__", ignorenulls=True).over(wsp)
            .alias(f"__carry_{c}__")
            for c in names
        ],
    )
    joined = sdf.join(F.broadcast(carries), [*keys, "__chunk__"], "left")
    out = {
        c + suffix: F.coalesce(
            F.last(F.col(f"__src_{c}__"), ignorenulls=True).over(frame),
            F.col(f"__carry_{c}__"),
        )
        for c in names
    }
    res = joined.withColumns(out).drop(
        "__chunk__",
        *[f"__carry_{c}__" for c in names],
        *[f"__src_{c}__" for c in names],
    )
    return DT(res, key=dt.key, order_by=dt.order_by)


@_carries_probe
def nafill_locf(
    dt: DT, cols, by=None, order=None, suffix: str = "",
    n_chunks: int | str | None = None,
) -> DT:
    """nafill(type="locf") — last observation carried forward (reference
    src/nafill.c:120). last(ignorenulls) over unbounded-preceding frame.
    ``n_chunks=`` opts into the hot-key carry stitch (exact; see
    _running_fill_chunked); "auto" probes the break-even
    (``_resolve_n_chunks``)."""
    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    if n_chunks is not None and n_chunks > 1:
        return _running_fill_chunked(
            dt, cols, by, order, suffix, n_chunks, reverse=False
        )
    w = win(dt, by=by, order=order).rowsBetween(Window.unboundedPreceding, 0)
    out = {}
    for c in _namelist(cols):
        out[c + suffix] = F.last(_nan_na(dt, c), ignorenulls=True).over(w)
    return DT(dt.df.withColumns(out), key=dt.key, order_by=dt.order_by)


def _nan_na(dt: DT, c: str):
    """NaN participates as NA in fills (reference nafill.Rraw 1.21/.22:
    locf/nocb fill OVER a NaN; R is.na(NaN) is TRUE). Inf/-Inf remain
    ordinary carried values."""
    if dict(dt.df.dtypes).get(c) in ("double", "float"):
        return F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(F.col(c))
    return F.col(c)


@_carries_probe
def nafill_nocb(
    dt: DT, cols, by=None, order=None, suffix: str = "",
    n_chunks: int | str | None = None,
) -> DT:
    """nafill(type="nocb") — next observation carried backward, computed
    as locf over the REVERSED order. A rowsBetween(0, unboundedFollowing)
    frame gives the same answer but Spark re-aggregates the remaining
    frame per row — O(rows²) per key (measured 363x at one 100k-row key);
    the mirrored unbounded-preceding frame runs incrementally.
    ``n_chunks=`` opts into the hot-key carry stitch (exact); "auto"
    probes the break-even (``_resolve_n_chunks``)."""
    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    if n_chunks is not None and n_chunks > 1:
        return _running_fill_chunked(
            dt, cols, by, order, suffix, n_chunks, reverse=True
        )
    from ..core import _oflip

    order = _namelist(order) or dt.order_by
    w = win(dt, by=by, order=[_oflip(c) for c in order]).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = {}
    for c in _namelist(cols):
        out[c + suffix] = F.last(_nan_na(dt, c), ignorenulls=True).over(w)
    return DT(dt.df.withColumns(out), key=dt.key, order_by=dt.order_by)


@_carries_probe
def nafill(
    dt: DT, cols, type: str = "const", fill=None,
    by=None, order=None, suffix: str = "",
    n_chunks: int | str | None = None,
) -> DT:
    """nafill / setnafill under the reference's own entry-point name
    (R/shift.R:29-36; the set* spelling is the SAME rebind here —
    immutability, SURVEY §1): dispatches to the const/locf/nocb forms
    below."""
    if type == "locf":
        return nafill_locf(
            dt, cols, by=by, order=order, suffix=suffix, n_chunks=n_chunks
        )
    if type == "nocb":
        return nafill_nocb(
            dt, cols, by=by, order=order, suffix=suffix, n_chunks=n_chunks
        )
    if type != "const":
        raise ValueError(f"nafill type must be const/locf/nocb, got {type!r}")
    out = {}
    for c in _namelist(cols):
        out[c + suffix] = F.coalesce(_nan_na(dt, c), F.lit(fill))
    return DT(dt.df.withColumns(out), key=dt.key, order_by=dt.order_by)


setnafill = nafill


@_carries_probe
def cumfn(
    dt: DT, fun: str, cols, by=None, order=None, give_names: bool = True,
    n_chunks: int | str | None = None,
) -> DT:
    """cumsum/cummin/cummax/cumprod inside j (base R in the reference;
    SURVEY §2.5 last row). Running aggregate over unbounded-preceding.

    ``n_chunks=``: hot-key carry stitch for running aggregates — the
    carry is the ASSOCIATIVE combine of earlier chunks' totals (sum for
    sum/count, least/greatest for min/max, product for prod), one tiny
    spine window + broadcast join; exact, NULLs skipped exactly as the
    unsplit aggregate skips them. (Float sum/prod regroup the fold —
    bit-drift is ulp-level, same caveat as any Spark partial
    aggregation of floats.) ``n_chunks="auto"``: see
    ``_resolve_n_chunks``."""
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "prod": F.product, "count": F.count}
    names = _namelist(cols)
    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    if n_chunks is not None and n_chunks > 1:
        from ..core import _ocol

        sdf, keys, ordn = _chunked_frame(dt, by, order, n_chunks)
        frame = (
            Window.partitionBy(*keys, "__chunk__")
            .orderBy(*[_ocol(c) for c in ordn])
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        ends = sdf.groupBy(*keys, "__chunk__").agg(
            *[fns[fun](F.col(c)).alias(f"__tot_{c}__") for c in names]
        )
        spine = sdf.select(*keys, "__chunk__").distinct().join(
            ends, [*keys, "__chunk__"], "left"
        )
        # _chunked_frame's chunk index is VALUE-based; under a desc
        # first order key the global traversal runs high chunk -> low,
        # so the carry accumulates over HIGHER chunks (the same
        # direction rule _rleid_chunked and _running_fill_chunked
        # apply; missing here until round 10 — cumfn(n_chunks=) with a
        # desc order silently accumulated the wrong chunks' totals)
        desc0 = ordn[0].startswith("-")
        wsp = (
            Window.partitionBy(*keys)
            .orderBy(
                F.col("__chunk__").desc() if desc0
                else F.col("__chunk__").asc()
            )
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        comb = {"sum": F.sum, "count": F.sum, "min": F.min,
                "max": F.max, "prod": F.product}[fun]
        carries = spine.select(
            *keys, "__chunk__",
            *[
                comb(F.col(f"__tot_{c}__")).over(wsp).alias(f"__carry_{c}__")
                for c in names
            ],
        )
        joined = sdf.join(F.broadcast(carries), [*keys, "__chunk__"], "left")
        out = {}
        for c in names:
            name = f"{c}_cum{fun}" if give_names else c
            part = fns[fun](F.col(c)).over(frame)
            carry = F.col(f"__carry_{c}__")
            if fun in ("sum", "count"):
                merged = F.coalesce(part, F.lit(0)) + F.coalesce(carry, F.lit(0))
            elif fun == "prod":
                merged = F.coalesce(part, F.lit(1.0)) * F.coalesce(carry, F.lit(1.0))
            elif fun == "min":
                merged = F.least(part, carry)
            else:
                merged = F.greatest(part, carry)
            if fun != "count":
                # running aggregates are NULL until the first non-null
                # value; count() is 0-based and never NULL
                merged = F.when(
                    part.isNull() & carry.isNull(), F.lit(None)
                ).otherwise(merged)
            out[name] = merged
        res = joined.withColumns(out).drop(
            "__chunk__", *[f"__carry_{c}__" for c in names]
        )
        return DT(res, key=dt.key, order_by=dt.order_by)
    w = win(dt, by=by, order=order).rowsBetween(Window.unboundedPreceding, 0)
    out = {}
    for c in names:
        name = f"{c}_cum{fun}" if give_names else c
        out[name] = fns[fun](F.col(c)).over(w)
    return DT(dt.df.withColumns(out), key=dt.key, order_by=dt.order_by)


@_carries_probe
def frev_order(dt: DT) -> DT:
    """frev (reference R/wrappers.R:16): reversing rows = reversing the
    declared order. No data moves: each order entry flips direction
    ('c' <-> '-c'); every consumer of the declared order (win(), rows(),
    which(), repr) resolves the '-' prefix to a descending sort key."""
    if not dt.order_by:
        raise ValueError("frev needs a declared order")
    from ..core import _oflip

    return DT(dt.df, key=dt.key, order_by=[_oflip(c) for c in dt.order_by])


@_carries_probe
def frollapply(
    dt: DT, col, n: int, fn, by=None, order=None, out_col: str | None = None,
    n_chunks: int | str | None = None,
) -> DT:
    """frollapply (reference R/frollapply.R:128, src/frollapply.c):
    arbitrary function over a fixed right-aligned rolling window.

    Spark shape: collect_list over the rolling frame (JVM) then ONE
    Arrow-batched pandas_udf applying `fn` per window array — the
    documented slow path (§2.11), used only because `fn` is arbitrary
    Python. Windows shorter than n yield NULL (data.table's
    fill/partial default).

    ``n_chunks=``: the same halo chunk-stitch as froll (right-aligned
    frame, halo width n-1); "auto" probes the break-even
    (``_resolve_n_chunks``). The UDF applies to the collected window
    array AFTER the frame evaluates, so the stitch composes untouched."""
    from pyspark.sql.functions import pandas_udf

    c = col if isinstance(col, str) else col._jc.toString()
    name = out_col or f"{c}_roll{n}"

    @pandas_udf("double")
    def apply_fn(s: pd.Series) -> pd.Series:
        return s.map(lambda a: float(fn(a)) if a is not None else None)

    def exprs(base: WindowSpec) -> dict:
        w = base.rowsBetween(-(n - 1), 0)
        # collect_list drops NULLs, which would make a full window with
        # a NULL look incomplete: preserve positions as NaN (fn sees
        # NaN, data.table's fn-sees-NA analog) and gate completeness on
        # the window ROW count instead.
        arr = F.collect_list(
            F.when(F.col(c).isNull(), F.lit(float("nan"))).otherwise(F.col(c))
        ).over(w)
        full = F.count(F.lit(1)).over(w) >= n
        return {name: apply_fn(F.when(full, arr))}

    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    if n_chunks is not None and n_chunks > 1:
        return _ordered_chunk_stitch(
            dt, exprs, by=by, order=order, n_chunks=n_chunks,
            hw_lo=n - 1, hw_hi=0,
        )
    return DT(
        dt.df.withColumns(exprs(win(dt, by=by, order=order))),
        key=dt.key,
        order_by=dt.order_by,
    )


@_carries_probe
def frollapply_multi(
    dt: DT,
    cols,
    n: int,
    fn,
    by=None,
    order=None,
    out_col: str = "roll_apply",
    n_chunks: int | str | None = None,
) -> DT:
    """frollapply with by.column=FALSE (reference R/frollapply.R:128:
    `x` a data.table and `by.column=FALSE` passes the whole n-row window
    sub-table to FUN — e.g. rolling correlation/regression).

    Spark shape: collect_list of struct(cols) over the rolling frame
    keeps the window rows aligned across columns JVM-side; one
    Arrow-batched pandas_udf then calls `fn(pandas.DataFrame)` per
    window. Windows shorter than n yield NULL. ``n_chunks=``: the same
    halo chunk-stitch as froll; "auto" probes the break-even."""
    from pyspark.sql.functions import pandas_udf

    cols = _namelist(cols)

    @pandas_udf("double")
    def apply_fn(s: pd.Series) -> pd.Series:
        def one(rows):
            if rows is None:
                return None
            # Arrow hands struct elements to pandas as dicts; build the
            # frame column-wise (no per-record type inference — ~4x
            # faster than pd.DataFrame(list-of-dicts) on small windows).
            out = fn(
                pd.DataFrame({c: [r[c] for r in rows] for c in cols})
            )
            return None if out is None else float(out)

        return s.map(one)

    def exprs(base: WindowSpec) -> dict:
        w = base.rowsBetween(-(n - 1), 0)
        # struct(...) is never NULL even when fields are, so
        # collect_list keeps every row; fn sees the fields' NULLs as
        # NaN.
        arr = F.collect_list(F.struct(*[F.col(c) for c in cols])).over(w)
        full = F.count(F.lit(1)).over(w) >= n
        return {out_col: apply_fn(F.when(full, arr))}

    n_chunks = _resolve_n_chunks(dt.df, _namelist(by), n_chunks)
    if n_chunks is not None and n_chunks > 1:
        return _ordered_chunk_stitch(
            dt, exprs, by=by, order=order, n_chunks=n_chunks,
            hw_lo=n - 1, hw_hi=0,
        )
    return DT(
        dt.df.withColumns(exprs(win(dt, by=by, order=order))),
        key=dt.key,
        order_by=dt.order_by,
    )


def _chunked_row_number(dt: DT, by, order, n_chunks: int, out: str = "__pos__"):
    """Global per-key row position WITHOUT a whole-key window task:
    per-(key, value-chunk) row_number + the spine's exclusive
    cumulative chunk-count carry (broadcast back). Integer adds —
    identical to row_number over the unsplit window."""
    from ..core import _ocol

    sdf, keys, ordn = _chunked_frame(dt, by, order, n_chunks)
    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(o) for o in ordn]
    )
    # value-based chunk index: reverse the spine under a desc first
    # order key (global traversal is high chunk -> low there)
    wsp = (
        Window.partitionBy(*keys)
        .orderBy(
            F.col("__chunk__").desc() if ordn[0].startswith("-")
            else F.col("__chunk__").asc()
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        sdf.groupBy(*keys, "__chunk__")
        .agg(F.count(F.lit(1)).alias("__n_tot__"))
        .select(
            *keys,
            "__chunk__",
            F.coalesce(F.sum("__n_tot__").over(wsp), F.lit(0)).alias(
                "__n_car__"
            ),
        )
    )
    return (
        sdf.withColumn("__rn_in__", F.row_number().over(w_in))
        .join(F.broadcast(carry), [*keys, "__chunk__"], "left")
        .withColumn(out, (F.col("__rn_in__") + F.col("__n_car__")).cast("int"))
        .drop("__rn_in__", "__n_car__", "__chunk__")
    )


def _adaptive_running_chunked(dt: DT, c, by, order, n_chunks: int,
                              c2=None):
    """Chunk-stitched (__pos__, __cs__, __cc__) for frolladaptive (see
    its n_chunks doc): per-(key, value-chunk) row_number / running
    DECIMAL sum / running non-null count, plus one tiny spine of
    per-chunk totals combined by an EXCLUSIVE running window and
    broadcast back. All three carries are associative (integer adds and
    DECIMAL adds), so the stitched columns equal the unsplit plan's
    bit-for-bit. ``c2=`` threads a SECOND running DECIMAL sum (the sum
    of squares var/sd needs) through the same windows and spine — one
    more associative carry, no extra shuffle."""
    from ..core import _ocol

    sdf, keys, ordn = _chunked_frame(dt, by, order, n_chunks)
    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(o) for o in ordn]
    )
    cum_in = w_in.rowsBetween(Window.unboundedPreceding, 0)
    base = (
        sdf.withColumn("__pos_in__", F.row_number().over(w_in))
        .withColumn("__cs_in__", F.sum(c).over(cum_in))
        .withColumn("__cc_in__", F.count(c).over(cum_in))
    )
    if c2 is not None:
        base = base.withColumn("__cs2_in__", F.sum(c2).over(cum_in))
    ends = sdf.groupBy(*keys, "__chunk__").agg(
        F.count(F.lit(1)).alias("__n_tot__"),
        F.sum(c).alias("__s_tot__"),
        F.count(c).alias("__c_tot__"),
        *([F.sum(c2).alias("__s2_tot__")] if c2 is not None else []),
    )
    # value-based chunk index: reverse the spine under a desc first
    # order key (global traversal is high chunk -> low there)
    wsp = (
        Window.partitionBy(*keys)
        .orderBy(
            F.col("__chunk__").desc() if ordn[0].startswith("-")
            else F.col("__chunk__").asc()
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = ends.select(
        *keys,
        "__chunk__",
        F.coalesce(F.sum("__n_tot__").over(wsp), F.lit(0)).alias("__n_car__"),
        F.coalesce(
            F.sum("__s_tot__").over(wsp), F.lit(0).cast("decimal(18,4)")
        ).alias("__s_car__"),
        F.coalesce(F.sum("__c_tot__").over(wsp), F.lit(0)).alias("__c_car__"),
        *([
            F.coalesce(
                F.sum("__s2_tot__").over(wsp),
                F.lit(0).cast("decimal(38,8)"),
            ).alias("__s2_car__")
        ] if c2 is not None else []),
    )
    out = (
        base.join(F.broadcast(carry), [*keys, "__chunk__"], "left")
        .withColumn("__pos__", (F.col("__pos_in__") + F.col("__n_car__")).cast("int"))
        .withColumn(
            "__cs__",
            F.when(
                F.col("__cs_in__").isNull() & (F.col("__c_car__") == 0),
                F.lit(None).cast("decimal(18,4)"),
            ).otherwise(
                F.coalesce(F.col("__cs_in__"), F.lit(0).cast("decimal(18,4)"))
                + F.col("__s_car__")
            ),
        )
        .withColumn("__cc__", F.col("__cc_in__") + F.col("__c_car__"))
    )
    if c2 is not None:
        out = out.withColumn(
            "__cs2__",
            F.when(
                F.col("__cs2_in__").isNull() & (F.col("__c_car__") == 0),
                F.lit(None).cast("decimal(38,8)"),
            ).otherwise(
                F.coalesce(F.col("__cs2_in__"),
                           F.lit(0).cast("decimal(38,8)"))
                + F.col("__s2_car__")
            ),
        ).drop("__cs2_in__", "__s2_car__")
    return out.drop(
        "__pos_in__", "__cs_in__", "__cc_in__", "__n_car__", "__s_car__",
        "__c_car__", "__chunk__",
    )


@_carries_probe
def frolladaptive(
    dt: DT, col, n_col, by=None, order=None, out_col: str | None = None,
    fun: str = "sum", na_rm: bool = False, nan_is_na: bool = True,
    n_chunks: int | str | None = None, partial: bool = False, fill=None,
) -> DT:
    """Adaptive (variable-width) rolling sum/mean (reference
    src/frolladaptive.c: per-row window size vector `n`).

    Spark windows cannot take per-row frame bounds, so this compiles to
    the cumsum-difference identity: roll_i = cs_i - cs_{i-n_i}, realized
    as a self equi-join on (group, pos - n_i) — two codegen'd window
    passes + one co-partitioned join, no per-row frame scan (O(rows),
    not O(rows*window)). Sums run in DECIMAL(18,4) so the difference is
    exact and engine-portable. Rows with pos < n_i yield NULL (the
    reference's incomplete-window NA).

    fun="max"/"min" (reference src/frolladaptive.c fadaptiverollmax):
    extrema admit no cumsum-difference, so they compile to a sparse
    table — see frolladaptive_extrema. fun="median": no sublinear
    decomposition exists (not a semigroup under overlap-union), so it
    expands each target row into its n_i source positions — see
    frolladaptive_median.

    na_rm (reference adaptive na.rm, froll.Rraw 6000.141-.144; default
    FALSE like the reference): FALSE poisons any window containing an
    NA via the cumsum-difference of the running NON-NULL count — same
    O(rows) shape, one extra codegen'd counter through the existing
    join; TRUE skips NAs (mean divides by the in-window non-null
    count) and a full all-NA window yields R's empty-aggregate
    identity (sum 0, mean NaN). nan_is_na: NaN participates as NA
    (is.na semantics), same rule as froll/nafill.

    ``n_chunks=`` (hot-key chunk-stitch): the three per-key running
    quantities this operator needs — row position, running DECIMAL
    sum, running non-null count — are all associative, so they compute
    per (key, value-chunk) and stitch through the tiny chunk spine by
    an exclusive running combine (the cumfn carry shape), exactly.
    DECIMAL sums make the regrouped fold bit-identical, not just
    ulp-close. The cumsum-difference self-join downstream is a shuffle
    join, unaffected. "auto" probes the break-even
    (``_resolve_n_chunks``).

    Round-14 additions (froll.Rraw 6001/6006):

    - ``partial=True`` (reference adaptive partial, 6006.902 "trimming
      n"): n_i is trimmed to the rows available (min(n_i, pos)), so no
      leading window is incomplete.
    - ``fill=`` (reference fill): replaces ONLY the incomplete-window
      leading rows (pos < n_i), never NA-poisoned complete windows
      (6001.730: fill=99, na.rm -> c(99,NA,NA)).
    - ``fun="var"/"sd"`` (frolladaptivevarExact, 6001.72x/.82x): one
      extra running DECIMAL sum of squares through the same windows
      and self-join; var = (S2 - S1^2/m)/(m-1) computed in double from
      the two EXACT sums, clamped at 0 — the reference's stability
      contract is exactly non-negativity (6001.731-.734). m < 2 -> NA.
    - ``fun="prod"/"median"`` route to the expansion path; width-0
      windows yield each aggregate's empty identity (sum 0, mean NaN,
      max -Inf, min Inf, prod 1, var/sd/median NA — 6001.x21 rows).
    """
    if fun in ("max", "min"):
        return frolladaptive_extrema(
            dt, col, n_col, by=by, order=order, out_col=out_col, fun=fun,
            na_rm=na_rm, nan_is_na=nan_is_na, n_chunks=n_chunks,
            partial=partial, fill=fill,
        )
    if fun in ("median", "prod"):
        return _frolladaptive_expand(
            dt, col, n_col, by=by, order=order, out_col=out_col,
            kind=fun, na_rm=na_rm, nan_is_na=nan_is_na, n_chunks=n_chunks,
            partial=partial, fill=fill,
        )
    if fun not in ("sum", "mean", "var", "sd"):
        raise ValueError(
            "frolladaptive fun must be sum/mean/max/min/prod/var/sd/"
            f"median: {fun}"
        )
    grp = _namelist(by)
    src = F.col(col)
    if nan_is_na and dict(dt.df.dtypes).get(col) in ("double", "float"):
        src = F.when(F.isnan(F.col(col)), F.lit(None)).otherwise(F.col(col))
    c = src.cast("decimal(18,4)")
    need2 = fun in ("var", "sd")
    c2 = (c * c) if need2 else None  # decimal(37,8): exact squares
    n_chunks = _resolve_n_chunks(dt.df, grp, n_chunks)
    if n_chunks is not None and n_chunks > 1:
        base = _adaptive_running_chunked(dt, c, by, order, n_chunks, c2=c2)
    else:
        w = win(dt, by=by, order=order)
        cum = w.rowsBetween(Window.unboundedPreceding, 0)
        base = (
            dt.df.withColumn("__pos__", F.row_number().over(w))
            .withColumn("__cs__", F.sum(c).over(cum))
            .withColumn("__cc__", F.count(c).over(cum))
        )
        if need2:
            base = base.withColumn("__cs2__", F.sum(c2).over(cum))
    nn_e = F.col(n_col).cast("int")
    if partial:
        nn_e = F.least(nn_e, F.col("__pos__"))
    base = base.withColumn("__nn__", nn_e)
    prev = base.select(
        *[F.col(g).alias(f"__pg_{g}__") for g in grp],
        F.col("__pos__").alias("__ppos__"),
        F.col("__cs__").alias("__pcs__"),
        F.col("__cc__").alias("__pcc__"),
        *([F.col("__cs2__").alias("__pcs2__")] if need2 else []),
    )
    cond = F.col("__pos__") - F.col("__nn__") == F.col("__ppos__")
    for g in grp:
        cond = cond & (F.col(g) == F.col(f"__pg_{g}__"))
    joined = base.join(prev, on=cond, how="left").drop(
        *[f"__pg_{g}__" for g in grp]
    )
    name = out_col or f"{col}_adaptive"
    diff = F.coalesce(F.col("__cs__"), F.lit(0).cast("decimal(18,4)")) - (
        F.coalesce(F.col("__pcs__"), F.lit(0).cast("decimal(18,4)"))
    )
    nn_cnt = F.col("__cc__") - F.coalesce(F.col("__pcc__"), F.lit(0))
    if fun == "mean":
        if na_rm:
            # R mean(na.rm=TRUE): divide by the non-NA count; empty ->
            # NaN (mean(numeric(0)))
            diff = F.when(
                nn_cnt > 0, (diff / nn_cnt).cast("double")
            ).otherwise(F.lit(float("nan")))
        else:
            # complete windows hold exactly n_i rows (the poison mask
            # below nulls any window with an NA, so dividing by n_i is
            # exact for the surviving rows); width 0 -> NaN like R's
            # mean(numeric(0)) (froll.Rraw 6001.121 row 2), not the
            # NULL a decimal 0/0 would give
            diff = F.when(
                F.col("__nn__") == 0, F.lit(float("nan"))
            ).otherwise((diff / F.col("__nn__")).cast("double"))
    elif fun == "sum":
        diff = diff.cast("double")
    else:  # var / sd
        s2 = (
            F.coalesce(F.col("__cs2__"), F.lit(0).cast("decimal(38,8)"))
            - F.coalesce(F.col("__pcs2__"), F.lit(0).cast("decimal(38,8)"))
        )
        s1d = diff.cast("double")
        vard = F.greatest(
            (s2.cast("double") - s1d * s1d / nn_cnt) / (nn_cnt - 1),
            F.lit(0.0),
        )
        diff = F.when(nn_cnt >= 2, vard)
        if fun == "sd":
            diff = F.sqrt(diff)
    full = F.col("__pos__") >= F.col("__nn__")
    if na_rm:
        val = F.when(full, diff)
    else:
        val = F.when(full & (nn_cnt == F.col("__nn__")), diff)
    if fill is not None:
        # incomplete leading windows only (see docstring)
        val = F.when(~full, F.lit(fill).cast("double")).otherwise(val)
    out = joined.withColumn(name, val).drop(
        "__pos__", "__cs__", "__cc__", "__nn__", "__ppos__", "__pcs__",
        "__pcc__", *(["__cs2__", "__pcs2__"] if need2 else []),
    )
    return DT(out, key=dt.key, order_by=dt.order_by)


@_carries_probe
def frolladaptive_extrema(
    dt: DT, col, n_col, by=None, order=None, out_col: str | None = None,
    fun: str = "max", n_max: int | None = None,
    na_rm: bool = False, nan_is_na: bool = True,
    n_chunks: int | str | None = None, partial: bool = False, fill=None,
) -> DT:
    """Adaptive rolling max/min (reference src/frolladaptive.c).

    Extrema have no cumsum-difference identity, so this is the sparse-
    table (doubling) scheme: J+1 fixed-width window maxima M_j over
    frames [pos-2^j+1, pos] (all share ONE window sort — Spark groups
    same-(partition, order) frames into a single WindowExec), then any
    width-n window [pos-n+1, pos] is the extremum of two overlapping
    power-of-two frames: M_j at pos and M_j at pos' = pos-n+2^j, with
    j = floor(log2 n) (2^{j+1} > n guarantees coverage). The pos' value
    arrives by ONE co-partitioned self equi-join on (group, pos') — so
    the whole operator is O(rows·log W) window state + one join, never
    a per-row frame scan. J needs max(n): pass n_max to skip the
    driver-side max-aggregate job (do pass it at 100 TB).

    na_rm=False (reference default): an NA in the window poisons the
    result. The poison mask rides the SAME sparse table — a per-j
    any-null indicator max over the identical frames (same WindowExec,
    no extra join or sort). na_rm=True skips NAs natively (max/min
    ignore nulls); a full all-NA window stays NULL (the reference warns
    and returns -Inf/Inf from base R there — NULL is this engine's NA
    spelling of the same no-observations case). nan_is_na: NaN
    participates as NA (froll-family rule).

    ``n_chunks=``: the sparse table's J+1 frames are FIXED power-of-two
    widths, so they ride the standard halo chunk-stitch (hw_lo =
    2^J - 1) and the global position comes from the stitch's spine rank
    — the whole per-key window block becomes n_chunks-way parallel; the
    downstream pos' self-join is a shuffle join either way. "auto"
    probes the break-even."""
    grp = _namelist(by)
    agg = F.max if fun == "max" else F.min
    comb = F.greatest if fun == "max" else F.least
    if n_max is None:
        n_max = dt.df.agg(F.max(F.col(n_col).cast("int"))).collect()[0][0] or 1
    # J must reach the PER-ROW j = floor(log2(n_i)) for every n_i <=
    # n_max; (n_max-1).bit_length()-1 (= ceil(log2)-1) is one short
    # exactly when n_max is a power of two (n=2 indexed past the array
    # — caught by the round-14 6001 vectors), where the row's own j
    # uses the full-width frame with pos' == pos
    J = max(0, int(n_max).bit_length() - 1)  # floor(log2(n_max))

    src = F.col(col)
    if nan_is_na and dict(dt.df.dtypes).get(col) in ("double", "float"):
        src = F.when(F.isnan(F.col(col)), F.lit(None)).otherwise(F.col(col))
    dtv = DT(dt.df.withColumn("__v__", src), key=dt.key, order_by=dt.order_by)

    def mj_exprs(bs: WindowSpec) -> dict:
        out = {}
        for j in range(J + 1):
            fr = bs.rowsBetween(-(2 ** j - 1), 0)
            out[f"__m{j}__"] = agg(F.col("__v__")).over(fr)
            if not na_rm:
                out[f"__z{j}__"] = F.max(
                    F.col("__v__").isNull().cast("int")
                ).over(fr)
        return out

    n_chunks = _resolve_n_chunks(dt.df, grp, n_chunks)
    if n_chunks is not None and n_chunks > 1:
        base = _ordered_chunk_stitch(
            dtv,
            lambda bs: {
                **mj_exprs(bs),
                "__pos__": F.col("__grank__").cast("int"),
            },
            by=by, order=order, n_chunks=n_chunks,
            hw_lo=2 ** J - 1, hw_hi=0, with_rank=True,
        ).df
    else:
        w = win(dt, by=by, order=order)
        base = (
            dtv.df.withColumn("__pos__", F.row_number().over(w))
            .withColumns(mj_exprs(w))
        )
    nn_e = F.col(n_col).cast("int")
    if partial:
        # reference adaptive partial (froll.Rraw 6006.902): trim n_i
        # to the rows available
        nn_e = F.least(nn_e, F.col("__pos__"))
    base = base.withColumn("__nn__", nn_e)
    # dynamic j per row: index the [M_0..M_J] array by floor(log2(n_i))
    base = base.withColumn(
        "__j__", F.floor(F.log2(F.col("__nn__"))).cast("int")
    ).withColumn("__marr__", F.array(*[F.col(f"__m{j}__") for j in range(J + 1)]))
    if not na_rm:
        base = base.withColumn(
            "__zarr__", F.array(*[F.col(f"__z{j}__") for j in range(J + 1)])
        )
    prev = base.select(
        *[F.col(g).alias(f"__pg_{g}__") for g in grp],
        F.col("__pos__").alias("__ppos__"),
        F.col("__marr__").alias("__pmarr__"),
        *([F.col("__zarr__").alias("__pzarr__")] if not na_rm else []),
    )
    # pos' = pos - n + 2^j  (== pos when n is an exact power of two)
    target = F.col("__pos__") - F.col("__nn__") + F.pow(F.lit(2.0), F.col("__j__")).cast("int")
    cond = target == F.col("__ppos__")
    for g in grp:
        cond = cond & (F.col(g) == F.col(f"__pg_{g}__"))
    joined = base.join(prev, on=cond, how="left").drop(
        *[f"__pg_{g}__" for g in grp]
    )
    name = out_col or f"{col}_adaptive"
    cur = F.element_at(F.col("__marr__"), F.col("__j__") + 1)
    pre = F.element_at(F.col("__pmarr__"), F.col("__j__") + 1)
    full = (F.col("__nn__") >= 1) & (F.col("__pos__") >= F.col("__nn__"))
    if not na_rm:
        zcur = F.element_at(F.col("__zarr__"), F.col("__j__") + 1)
        zpre = F.element_at(F.col("__pzarr__"), F.col("__j__") + 1)
        anyna = F.greatest(
            F.coalesce(zcur, F.lit(0)), F.coalesce(zpre, F.lit(0))
        ) > 0
        val = F.when(full & ~anyna, comb(cur, pre))
    else:
        val = F.when(full, comb(cur, pre))
    if fill is not None:
        # fill replaces ONLY incomplete leading windows (pos < n_i)
        val = F.when(
            (~full) & (F.col("__nn__") >= 1), F.lit(fill).cast("double")
        ).otherwise(val)
    # width-0 window -> R's empty extremum (froll.Rraw 6001.321/.421:
    # max(numeric(0)) = -Inf, min = Inf), NA-free by construction
    val = F.when(
        F.col("__nn__") == 0,
        F.lit(float("-inf") if fun == "max" else float("inf")),
    ).otherwise(val)
    out = joined.withColumn(name, val).drop(
        "__v__", "__pos__", "__nn__", "__j__", "__marr__", "__ppos__",
        "__pmarr__",
        *[f"__m{j}__" for j in range(J + 1)],
        *([
            "__zarr__", "__pzarr__",
            *[f"__z{j}__" for j in range(J + 1)],
        ] if not na_rm else []),
    )
    return DT(out, key=dt.key, order_by=dt.order_by)


@_carries_probe
def frolladaptive_median(
    dt: DT, col, n_col, by=None, order=None, out_col: str | None = None,
    na_rm: bool = False, nan_is_na: bool = True,
    n_chunks: int | str | None = None, partial: bool = False, fill=None,
) -> DT:
    """Adaptive rolling median — thin wrapper over the shared expansion
    path (see _frolladaptive_expand)."""
    return _frolladaptive_expand(
        dt, col, n_col, by=by, order=order, out_col=out_col,
        kind="median", na_rm=na_rm, nan_is_na=nan_is_na,
        n_chunks=n_chunks, partial=partial, fill=fill,
    )


def _frolladaptive_expand(
    dt: DT, col, n_col, by=None, order=None, out_col: str | None = None,
    kind: str = "median", na_rm: bool = False, nan_is_na: bool = True,
    n_chunks: int | str | None = None, partial: bool = False, fill=None,
) -> DT:
    """Adaptive rolling median (reference src/frolladaptive.c
    fadaptiverollmedian). Median is not a semigroup (two overlapping
    power-of-two frames don't compose), so this is the honest O(rows·W̄)
    expansion: each target row explodes into its n_i needed positions
    (sequence + explode, codegen), an equi-join on (group, src pos)
    fetches the values, and an exact F.median aggregates per target.
    Work is the same O(rows·window) the reference's per-window quickselect
    pays; here it shuffle-partitions across the cluster. Keep n_i
    bounded (it is a STALENESS window, not an unbounded history).

    ``kind="prod"`` (reference frolladaptiveprod, froll.Rraw 6001.52x
    — round-14 port) rides the same expansion with F.product: product
    is a semigroup, but a cumprod-difference identity dies on zeros
    (division by a zero prefix), so the honest expansion is also the
    EXACT one; width-0 windows yield R's prod(numeric(0)) = 1.

    na_rm=False (reference default) poisons windows containing an NA —
    one count comparison inside the per-target aggregate, no extra
    shuffle; na_rm=True skips NAs (F.median's native rule). nan_is_na:
    NaN participates as NA. ``partial=True`` trims n_i to the rows
    available (6006.902); ``fill=`` replaces only incomplete leading
    windows.

    ``n_chunks=``: the expansion/join/aggregate are shuffle-parallel
    already; the one whole-key piece is the row_number position
    window, which n_chunks swaps for the chunked-rank carry
    (``_chunked_row_number``) — identical positions, no single hot-key
    sort task. "auto" probes the break-even."""
    grp = _namelist(by)
    srcv = F.col(col)
    if nan_is_na and dict(dt.df.dtypes).get(col) in ("double", "float"):
        srcv = F.when(F.isnan(F.col(col)), F.lit(None)).otherwise(F.col(col))
    n_chunks = _resolve_n_chunks(dt.df, grp, n_chunks)
    if n_chunks is not None and n_chunks > 1:
        base = _chunked_row_number(dt, by, order, n_chunks)
    else:
        base = dt.df.withColumn(
            "__pos__", F.row_number().over(win(dt, by=by, order=order))
        )
    nn_e = F.col(n_col).cast("int")
    if partial:
        nn_e = F.least(nn_e, F.col("__pos__"))
    base = base.withColumn("__nn__", nn_e)
    need = base.select(
        *[F.col(g).alias(f"__tg_{g}__") for g in grp],
        F.col("__pos__").alias("__tpos__"),
        F.explode(
            F.when(
                (F.col("__nn__") >= 1) & (F.col("__pos__") >= F.col("__nn__")),
                F.sequence(
                    F.col("__pos__") - F.col("__nn__") + 1, F.col("__pos__")
                ),
            )
        ).alias("__spos__"),
    )
    cond = F.col("__spos__") == F.col("__pos__")
    for g in grp:
        cond = cond & (F.col(f"__tg_{g}__") == F.col(g))
    vals = need.join(
        base.select(*grp, "__pos__", srcv.alias("__v__")), on=cond
    )
    agg_fn = F.median if kind == "median" else F.product
    med_expr = agg_fn("__v__")
    if not na_rm:
        # poison: any NULL among the window's n_i fetched rows
        med_expr = F.when(
            F.count("__v__") == F.count(F.lit(1)), agg_fn("__v__")
        )
    med = vals.groupBy(
        *[F.col(f"__tg_{g}__") for g in grp], F.col("__tpos__")
    ).agg(med_expr.alias("__med__"))
    name = out_col or f"{col}_adaptive"
    back = F.col("__tpos__") == F.col("__pos__")
    for g in grp:
        back = back & (F.col(f"__tg_{g}__") == F.col(g))
    val = F.col("__med__")
    if fill is not None:
        # incomplete leading windows only (pos < n_i, n_i >= 1)
        val = F.when(
            (F.col("__pos__") < F.col("__nn__")) & (F.col("__nn__") >= 1),
            F.lit(fill).cast("double"),
        ).otherwise(val)
    if kind == "prod":
        # width-0 window: R prod(numeric(0)) = 1 (6001.521 row 2);
        # median of an empty window stays NA
        val = F.when(F.col("__nn__") == 0, F.lit(1.0)).otherwise(val)
    out = base.join(med, on=back, how="left").withColumn(
        name, val
    ).drop(
        "__pos__", "__nn__", "__med__", "__tpos__",
        *[f"__tg_{g}__" for g in grp],
    )
    return DT(out, key=dt.key, order_by=dt.order_by)


@_carries_probe
def frollapply_adaptive(
    dt: DT, col, n_col, fn, by=None, order=None, out_col: str | None = None,
    partial: bool = False,
) -> DT:
    """Adaptive frollapply (reference src/frolladaptive.c composed with
    R/frollapply.R:128): an ARBITRARY function over a PER-ROW window
    width n_i — the cross product the fixed-width `frollapply` and the
    aggregate-only `frolladaptive` each cover half of.

    Spark shape: the explode-expansion of `frolladaptive_median` (each
    complete target row explodes into its n_i source positions; one
    co-partitioned equi-join fetches values) but instead of an exact
    aggregate, each target packs its window into an order-preserving
    array (collect_list of (pos, val) structs, array_sort — pos is
    unique within a target, so the sort is total and the value order is
    the declared row order), and ONE Arrow-batched pandas_udf applies
    `fn` per window array. O(rows·W̄) expansion work — the same the
    reference's per-window loop pays single-node — spread across the
    cluster; the only Python is the final per-window `fn` call.
    NULL source values reach `fn` as NaN (frollapply's convention); a
    NaN return maps back to NULL (pandas->Arrow NaN-as-NA — i.e. the
    reference's NA-poisoning under na.rm=FALSE); rows with pos < n_i
    (incomplete window) yield NULL. ``partial=True`` (reference
    adaptive partial, froll.Rraw 6006.902) trims n_i to the available
    rows; a width-0 window calls ``fn`` on the EMPTY window (reference
    applies FUN to numeric(0): sum -> 0, max -> -Inf; a NaN return —
    mean of empty — maps to NULL like every NaN return here)."""
    from pyspark.sql.functions import pandas_udf

    grp = _namelist(by)
    w = win(dt, by=by, order=order)
    nn_e = F.col(n_col).cast("int")
    base = dt.df.withColumn("__pos__", F.row_number().over(w))
    if partial:
        nn_e = F.least(nn_e, F.col("__pos__"))
    base = base.withColumn("__nn__", nn_e)
    need = base.select(
        *[F.col(g).alias(f"__tg_{g}__") for g in grp],
        F.col("__pos__").alias("__tpos__"),
        F.explode(
            F.when(
                (F.col("__nn__") >= 1) & (F.col("__pos__") >= F.col("__nn__")),
                F.sequence(
                    F.col("__pos__") - F.col("__nn__") + 1, F.col("__pos__")
                ),
            )
        ).alias("__spos__"),
    )
    cond = F.col("__spos__") == F.col("__pos__")
    for g in grp:
        cond = cond & (F.col(f"__tg_{g}__") == F.col(g))
    src_val = F.when(
        F.col(col).isNull(), F.lit(float("nan"))
    ).otherwise(F.col(col).cast("double"))
    vals = need.join(
        base.select(*grp, "__pos__", src_val.alias("__v__")), on=cond
    )
    packed = vals.groupBy(
        *[F.col(f"__tg_{g}__") for g in grp], F.col("__tpos__")
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__spos__", "__v__"))),
            lambda s: s["__v__"],
        ).alias("__warr__")
    )

    @pandas_udf("double")
    def apply_fn(s: pd.Series) -> pd.Series:
        return s.map(lambda a: None if a is None else float(fn(a)))

    name = out_col or f"{col}_adaptive"
    back = F.col("__tpos__") == F.col("__pos__")
    for g in grp:
        back = back & (F.col(f"__tg_{g}__") == F.col(g))
    arr = F.when(
        F.col("__nn__") == 0, F.array().cast("array<double>")
    ).otherwise(F.col("__warr__"))
    out = base.join(
        packed, on=back, how="left"
    ).withColumn(name, apply_fn(arr)).drop(
        "__pos__", "__nn__", "__warr__", "__tpos__",
        *[f"__tg_{g}__" for g in grp],
    )
    return DT(out, key=dt.key, order_by=dt.order_by)


def sessionize(
    dt: DT, ts_col: str, gap: int, by=None, order=None,
    out_col: str = "session_id",
) -> DT:
    """Batch sessionization (gaps-and-islands): new session when the gap
    to the previous event (same group) is >= `gap` (units of ts_col;
    matches Spark session_window's exclusive end). Two window passes —
    lag + running sum — fully codegen'd; the batch counterpart of
    streaming/session_agg.

    `order` must be a DETERMINISTIC total order starting with ts_col
    (add a unique tie-break column when timestamps can collide —
    otherwise the running sum's tie order is engine-dependent)."""
    order = _namelist(order) or [ts_col]
    w = win(dt, by=by, order=order)
    prev = F.lag(F.col(ts_col)).over(w)
    brk = F.when(
        prev.isNull() | (F.col(ts_col) - prev >= gap), F.lit(1)
    ).otherwise(F.lit(0))
    ocols = [F.col(c) for c in order]
    run = (
        Window.partitionBy(*_namelist(by)) if by else Window.partitionBy()
    ).orderBy(*ocols).rowsBetween(Window.unboundedPreceding, 0)
    df = dt.df.withColumn("__brk__", brk).withColumn(
        out_col, F.sum("__brk__").over(run).cast("long")
    ).drop("__brk__")
    return DT(df, key=dt.key, order_by=dt.order_by)


def funnel_stages(
    events: "DataFrame",
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
    within_us: int | None = None,
) -> "DataFrame":
    """Funnel / ordered-sequence matching per user: for an ordered list
    of event types [s1, s2, ..., sk], find t1 = first s1, t2 = first s2
    STRICTLY AFTER t1, ..., tk = first sk strictly after t(k-1), and
    the deepest stage reached. The standard product-analytics funnel,
    and the reference-free cousin of a CEP MATCH_RECOGNIZE for the
    strictly-ordered-first-occurrence pattern.

    Output: (user_col, t1..tk nullable, stage int in [1, k]) — one row
    per user who completed at least step 1. "Strictly after" uses the
    timestamp alone, so same-timestamp step pairs do NOT chain (a
    deterministic contract that needs no tiebreak key and is portable
    to any engine; min() makes ties within one step irrelevant).
    ``within_us`` additionally bounds each step to at most that many
    timestamp units after the PREVIOUS step's first occurrence (the
    conversion-window form real funnels use); None = unbounded.

    Scale shape (100 TB): k conditional MIN aggregates + (k-1)
    equi-joins, every one keyed on user_col — a single partitioning
    reused across all stages (AQE/co-partitioning elides re-shuffles);
    no windows, no state, no explode. Filters on type_col push to the
    scan per stage.
    """
    if not steps:
        raise ValueError("funnel_stages needs at least one step")
    ev = events.select(user_col, type_col, ts_col)
    cur = (
        ev.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    out = cur
    for i, s in enumerate(steps[1:], start=2):
        cond = F.col(ts_col) > F.col(f"t{i-1}")
        if within_us is not None:
            cond = cond & (
                F.col(ts_col) <= F.col(f"t{i-1}") + F.lit(int(within_us))
            )
        nxt = (
            ev.filter(F.col(type_col) == s)
            .join(cur.select(user_col, f"t{i-1}"), user_col)
            .filter(cond)
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t{i}"))
        )
        out = out.join(nxt.select(user_col, f"t{i}"), user_col, "left")
        cur = nxt
    stage = F.lit(1)
    for i in range(2, len(steps) + 1):
        stage = stage + F.col(f"t{i}").isNotNull().cast("int")
    return out.select(
        user_col,
        *[f"t{i}" for i in range(1, len(steps) + 1)],
        stage.cast("int").alias("stage"),
    )


def retention_cohorts(
    events: "DataFrame",
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    period_us: int = 7 * 86400 * 1_000_000,
) -> "DataFrame":
    """Cohort retention matrix: bucket time into fixed periods by exact
    integer division of the epoch-microsecond timestamp (timezone-free
    and engine-portable — calendar week functions are not), assign each
    user to the cohort of their FIRST active period, and count distinct
    users active at each (cohort, offset). The classic retention
    triangle, exactly.

    Output: (cohort, wk_offset, n_users) with all-bigint arithmetic.

    Scale shape (100 TB): one distinct on (user, period) — map-side
    combined — then a per-user MIN aggregate, a user-keyed equi-join,
    and a final small aggregate on (cohort, offset): every shuffle is
    keyed, the output is triangle-sized (periods^2 / 2), never
    user-sized.
    """
    # Floor division, not DIV (which truncates toward zero): pre-1970
    # timestamps must bucket the same way the // oracles do (ADVICE r5).
    # pmod-adjusted DIV keeps it exact bigint arithmetic — double
    # division could misfloor at exact period multiples.
    p = int(period_us)
    e = events.select(
        F.col(user_col).alias("u"),
        F.expr(f"(({ts_col} - pmod({ts_col}, {p}L)) DIV {p}L)").alias("wk"),
    ).distinct()
    cohort = e.groupBy("u").agg(F.min("wk").alias("cohort"))
    return (
        e.join(cohort, "u")
        .select("u", "cohort", (F.col("wk") - F.col("cohort")).alias("wk_offset"))
        .groupBy("cohort", "wk_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


# reference NAMESPACE export name (export(frolladapt)); the full
# implementation lives under the descriptive name above
frolladapt = frolladaptive

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


def _chunked_frame(dt: DT, by, order, n_chunks: int):
    """The one chunk assignment of every chunk-stitch: value-chunk each
    key's rows on the first order column, numbering the chunks in the
    key's TRAVERSAL order — chunk 0 holds the rows the sort puts first,
    under either direction, so no consumer reads the direction. Equal
    values share a chunk, so ties never straddle a boundary.

    NaN order values are excluded from the per-key bounds (one NaN
    would make the width NaN and collapse every row into one chunk —
    exact but silently unsplit). NaN and NULL rows go to the chunk
    Spark's sort puts them in (``_ocol``): NaN sorts after +Inf, so
    last ascending and first descending; NULL sorts first ascending and
    last descending. They are routed before the arithmetic, which
    would drop them into chunk 0: F.greatest skips a NULL argument and
    floor(NaN) is 0 (test_halo_stitch_nan_order_value). Returns
    (df + __chunk__, keys, order names)."""
    keys = _namelist(by)
    ordn = _namelist(order) or dt.order_by
    if not ordn:
        raise ValueError("n_chunks needs an ordering (order= or order_by)")
    desc = ordn[0].startswith("-")
    vcol = F.col(ordn[0][1:] if desc else ordn[0]).cast("double")
    fin = F.when(~F.isnan(vcol), vcol)  # NULL for NaN, pass-through else
    bcols = [F.min(fin).alias("__tlo__"), F.max(fin).alias("__thi__")]
    sdf = dt.df
    if keys:
        sdf = sdf.join(F.broadcast(sdf.groupBy(*keys).agg(*bcols)), keys, "left")
    else:
        sdf = sdf.crossJoin(F.broadcast(sdf.agg(*bcols)))
    width = (F.col("__thi__") - F.col("__tlo__")) / F.lit(float(n_chunks))
    pos = (F.col("__thi__") - vcol) if desc else (vcol - F.col("__tlo__"))
    first, last = F.lit(0), F.lit(n_chunks - 1)
    chunk = (
        F.when(F.isnan(vcol), first if desc else last)
        .when(vcol.isNull(), last if desc else first)
        .when(F.col("__tlo__").isNull() | (width <= 0), first)
        .otherwise(F.least(last, F.greatest(first, F.floor(pos / width))))
    )
    sdf = sdf.withColumn("__chunk__", chunk.cast("int")).drop("__tlo__", "__thi__")
    return sdf, keys, ordn


def _carry_spine(sdf, keys, aggs, carry=None, back=None, onto=None):
    """The one carry spine of every chunk-stitch (keys x n_chunks rows):

    1. aggregate ``aggs`` per (keys, __chunk__) of ``sdf``;
    2. ``carry(w)`` builds the carried columns over ``w``, the EXCLUSIVE
       prefix of the key's chunks in traversal order; ``back(w)`` walks
       it backwards (NOCB and the as-of backward fill, whose direction
       is their meaning, not the sort's);
    3. broadcast-join the carried columns onto ``onto`` (the rows being
       stitched, usually ``sdf``).

    With ``onto=None`` the spine itself — aggregates and carries — is
    returned (the halo stitch pairs chunks on it)."""
    spine = sdf.groupBy(*keys, "__chunk__").agg(*aggs)
    before = Window.partitionBy(*keys)
    cols = []
    if carry:
        cols += carry(before.orderBy(F.col("__chunk__").asc()).rowsBetween(
            Window.unboundedPreceding, -1))
    if back:
        cols += back(before.orderBy(F.col("__chunk__").desc()).rowsBetween(
            Window.unboundedPreceding, -1))
    if onto is None:
        return spine.select("*", *cols)
    return onto.join(
        F.broadcast(spine.select(*keys, "__chunk__", *cols)),
        [*keys, "__chunk__"],
        "left",
    )


def _chunked_row_number(sdf, keys, ordn, out: str = "__pos__"):
    """Global per-key row position on a _chunked_frame WITHOUT a
    whole-key window task: per-(key, chunk) row_number + the spine's
    count of the rows in the chunks before. Integer adds — identical to
    row_number over the unsplit window. Keeps __chunk__."""
    from ..core import _ocol

    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(o) for o in ordn]
    )
    ranked = sdf.withColumn("__rna__", F.row_number().over(w_in))
    return _carry_spine(
        sdf, keys, [F.count(F.lit(1)).alias("__n__")],
        lambda w: [F.coalesce(F.sum("__n__").over(w), F.lit(0)).alias("__off__")],
        onto=ranked,
    ).withColumn(
        out, (F.col("__rna__") + F.col("__off__")).cast("int")
    ).drop("__rna__", "__off__")


def _ordered_chunk_stitch(
    dt: DT, exprs, by, order, n_chunks: int, hw_lo: int, hw_hi: int,
    with_rank: bool = False,
) -> DT:
    """Exact chunk-split evaluation of fixed-width rolling frames (the
    SCALE.md hot-key mitigation).

    1. rows chunk by _chunked_frame;
    2. each chunk is augmented with HALO copies of the hw_lo rows
       preceding / hw_hi rows following it. Halo sources are found
       through the chunk spine's row counts, so a sparse chunk
       transitively pulls rows from several chunks back — exactness
       does not depend on chunk balance;
    3. the caller's window expressions evaluate over (keys, chunk)
       partitions — n_chunks-way parallel per key — and halo rows are
       dropped. Every real row's frame holds the identical row
       multiset as the unsplit window, so results are bit-identical.

    ``with_rank=True`` additionally provides every REAL row its GLOBAL
    per-key rank as ``__grank__`` (_chunked_row_number) and the key's
    total row count as ``__gcnt__`` — no whole-key window — for callers
    whose expressions need boundary positions (shift's out-of-range
    fill). Halo rows carry NULLs there.
    """
    from ..core import _ocol

    sdf, keys, ordn = _chunked_frame(dt, by, order, n_chunks)
    spine = _carry_spine(
        sdf, keys, [F.count(F.lit(1)).alias("__n__")],
        lambda w: [F.coalesce(F.sum("__n__").over(w), F.lit(0)).alias("__off__")],
    )
    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(c) for c in ordn]
    )
    ranked = sdf.withColumn("__rna__", F.row_number().over(w_in)).withColumn(
        "__cnt__", F.count(F.lit(1)).over(Window.partitionBy(*keys, "__chunk__"))
    )

    def halo(width: int, forward: bool):
        """Copies of each chunk's rows within ``width`` of a boundary
        into the neighbouring chunks: ``forward`` sends a chunk's LAST
        rows into later chunks (preceding frames), otherwise its FIRST
        rows into earlier ones. ``gap`` counts the rows of the chunks
        strictly between source and target; ``edge`` the rows between a
        row and its own chunk's boundary."""
        s, g = spine.alias("__s__"), spine.alias("__g__")
        pred = F.lit(True)
        for k in keys:
            pred = pred & F.col(f"__s__.{k}").eqNullSafe(F.col(f"__g__.{k}"))
        if forward:
            later = F.col("__g__.__chunk__") > F.col("__s__.__chunk__")
            gap = F.col("__g__.__off__") - F.col("__s__.__off__") - F.col("__s__.__n__")
            edge = F.col("__cnt__") - F.col("__rna__")
        else:
            later = F.col("__g__.__chunk__") < F.col("__s__.__chunk__")
            gap = F.col("__s__.__off__") - F.col("__g__.__off__") - F.col("__g__.__n__")
            edge = F.col("__rna__") - 1
        pairs = s.join(g, pred & later & (gap < width)).select(
            *[F.col(f"__s__.{k}") for k in keys],
            F.col("__s__.__chunk__").alias("__c_src__"),
            F.col("__g__.__chunk__").alias("__c_tgt__"),
            gap.alias("__gap__"),
        )
        cand = ranked.filter(edge < width)
        on = cand["__chunk__"] == pairs["__c_src__"]
        for k in keys:
            on = on & cand[k].eqNullSafe(pairs[k])
        return (
            cand.join(F.broadcast(pairs), on)
            .filter(edge + F.col("__gap__") < width)
            .select(
                *[cand[c] for c in dt.df.columns],
                F.col("__c_tgt__").alias("__chunk__"),
            )
            .withColumn("__halo__", F.lit(True))
        )

    real = sdf
    if with_rank:
        real = _chunked_row_number(sdf, keys, ordn, out="__grank__")
        totals = F.broadcast(
            spine.groupBy(*keys).agg(F.sum("__n__").alias("__gcnt__"))
        )
        real = real.join(totals, keys, "left") if keys else real.crossJoin(totals)
    aug = real.withColumn("__halo__", F.lit(False))
    for width, forward in ((hw_lo, True), (hw_hi, False)):
        if width > 0:
            # halo rows lack __grank__/__gcnt__ (with_rank): null-filled
            aug = aug.unionByName(halo(width, forward), allowMissingColumns=True)
    out = (
        aug.withColumns(exprs(w_in))
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

    ``col`` may be a list: frankv(cols=, order=) — MULTI-COLUMN
    lexicographic ranking (reference R/frank.R frankv cols=; tests.Rraw
    2386.05). A tie is a row equal on ALL ranked columns (Spark's
    ordering/grouping already treats NaN==NaN and NULL==NULL); every
    column takes the sort key the single-column form uses. ``order`` is
    ±1 per column (a scalar recycles); ``desc=True`` recycles -1.
    Documented subset: ``na_last`` must be True or False ("keep"/None
    are single-column semantics — whether a row is "missing" is
    ambiguous across columns) and ``n_chunks=`` is single-column only
    (the value-chunk spine needs one ranked domain).
    """
    multi = isinstance(col, (list, tuple))
    cols = list(col) if multi else [col]
    if multi and n_chunks not in (None, 1):
        raise ValueError("n_chunks= chunk-stitching is single-column only")
    if multi and na_last not in (True, False):
        raise ValueError(
            "multi-column frank supports na_last=True/False only "
            "(row-missingness is ambiguous across columns)"
        )
    orders = _rank_orders(order, desc, len(cols))
    keys = _namelist(by)
    dtypes = dict(dt.df.dtypes)
    sdf, off, doff = dt.df, None, None
    if not multi:
        desc = orders[0] == -1
        n_chunks = _resolve_n_chunks(dt.df, keys, n_chunks)
        handle_nan = nan_is_na and dtypes.get(col) in ("float", "double")
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
                by=by, desc=desc, out_col=out_col, tiebreak=tiebreak,
                seed=seed, na_last=na_last, n_chunks=n_chunks,
                nan_is_na=False,
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
                tiebreak=tiebreak, seed=seed, na_last=True,
                n_chunks=n_chunks, nan_is_na=False,
            )
        # "keep" ranks non-NAs among themselves: the partition's NULL
        # count comes off every rank (cast int so integer rank dtypes
        # don't widen to bigint under the shift)
        nn = F.sum(F.col(col).isNull().cast("int")).over(
            Window.partitionBy(*keys)
        ).cast("int")
        if n_chunks is not None and n_chunks > 1:
            sdf = _frank_spine(dt, col, keys, desc, na_last, n_chunks, handle_nan)
            off, doff = F.col("__rb__"), F.col("__db__")
            nn = F.col("__nn__").cast("int")
    # "keep" sorts NULLs first like na_last=False, then masks them below
    ocs = _rank_keys(dtypes, cols, orders, na_last is True, nan_is_na)
    r = _tie_rank(ties, keys, ocs, cols, tiebreak, seed, off, doff)
    if na_last == "keep":
        shift = (nn > 0).cast("int") if ties == "dense" else nn
        r = F.when(F.col(col).isNull(), F.lit(None)).otherwise(r - shift)
    out = sdf.withColumn(out_col, r)
    if off is not None:
        out = out.drop("__chunk__", "__rb__", "__db__", "__nn__")
    return DT(out, key=dt.key, order_by=dt.order_by)


def _rank_orders(order, desc: bool, n: int) -> list[int]:
    """frank's per-column directions: ``order=`` (frankv, reference
    #5489, tests.Rraw 2386 — ±1, a scalar recycles) takes precedence
    over ``desc=`` with the reference's warning when both are given."""
    if order is None:
        return [-1 if desc else 1] * n
    orders = (
        [int(o) for o in order]
        if isinstance(order, (list, tuple))
        else [int(order)] * n
    )
    if len(orders) != n:
        raise ValueError("order length must match cols")
    if any(o not in (1, -1) for o in orders):
        raise ValueError("order must be +1 or -1")
    if desc:
        import warnings

        warnings.warn(
            "Both desc= and 'order' argument are provided; 'order'"
            " will take precedence.",
            RuntimeWarning,
        )
    return orders


def _rank_keys(dtypes, cols, orders, na_last: bool, nan_is_na: bool):
    """frank's sort keys. A float/double column whose NaN is NA takes
    the two-level missing key (0=value/1=NaN/2=NA — NA outermost, NaN
    adjacent, tests.Rraw 1988), ascending under na_last=True and
    descending under False, then the value in its direction; ties need
    no extra key because Spark's ordering already has NaN==NaN and
    NULL==NULL. Other columns place NULLs last or first."""
    ocs = []
    for c, o in zip(cols, orders):
        d = o == -1
        if nan_is_na and dtypes.get(c) in ("float", "double"):
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
    return ocs


def _tie_rank(ties, keys, ocs, cols, tiebreak, seed, off=None, doff=None):
    """The one ties= ladder (reference src/frank.c): the rank of each
    row in the window of ``keys`` ordered by ``ocs``; ties share every
    ranked ``cols`` value. ``off``/``doff`` are the chunk-stitch spine's
    rows/distinct values before the row's chunk: given, the window runs
    per (keys, __chunk__) and they lift chunk ranks to global ones;
    unsplit they are None."""
    part = Window.partitionBy(*keys, *([] if off is None else ["__chunk__"]))
    w = part.orderBy(*ocs)

    def lift(r, o):
        return r if o is None else r + o

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
        r = lift(F.row_number().over(part.orderBy(*ocs, salt.asc())), off)
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
            w = part.orderBy(*ocs, *tb)
        r = lift(F.row_number().over(w), off)
    elif ties == "min":
        r = lift(F.rank().over(w), off)
    elif ties == "dense":
        r = lift(F.dense_rank().over(w), doff)
    elif ties in ("max", "average"):
        # the tie group's size; max = its min rank + size - 1 (size cast
        # int: rank dtypes stay IntegerType like the other methods)
        size = F.count(F.lit(1)).over(Window.partitionBy(*keys, *cols))
        lo = lift(F.rank().over(w), off)
        if ties == "max":
            r = lo + size.cast("int") - 1
        else:
            r = ((2 * lo + size - 1) / 2).cast("double")
    else:
        raise ValueError(f"bad ties: {ties}")
    if off is not None and ties != "average":
        # the long spine offsets must not widen the IntegerType rank
        r = r.cast("int")
    return r


def _frank_spine(dt: DT, col, keys, desc, na_last, n_chunks: int,
                 handle_nan: bool):
    """Chunk-stitched frank's rows (see frank's n_chunks doc): chunks
    come from _chunked_frame on the ranked column (equal values share
    a chunk, so tie groups never straddle a boundary — tie counts and
    dense groups stay chunk-local facts). NULLs move to a dedicated
    chunk — and, when NaN is missing (handle_nan), NaNs to a SECOND one
    adjacent to it, NA outermost (tests.Rraw 1988) — traversed FIRST
    for na_last False/"keep" and LAST for na_last=True (the reference
    sorts NAs last as one tie group — R/frank.R:52). The spine carries
    the rows (__rb__), distinct values (__db__, for dense) and NULLs
    (__nn__, for "keep") of the chunks before each row's."""
    sdf, _, _ = _chunked_frame(
        dt, keys, [f"-{col}" if desc else col], n_chunks
    )
    first = na_last is not True
    chunk = F.when(F.col(col).isNull(), F.lit(-2 if first else n_chunks + 1))
    if handle_nan:
        chunk = chunk.when(F.isnan(F.col(col)), F.lit(-1 if first else n_chunks))
    sdf = sdf.withColumn("__chunk__", chunk.otherwise(F.col("__chunk__")))
    isnull = F.col(col).isNull().cast("long")
    return _carry_spine(
        sdf, keys,
        [
            F.count(F.lit(1)).alias("__cnt__"),
            (F.count_distinct(F.col(col)) + F.max(isnull)).alias("__nd__"),
            F.sum(isnull).alias("__nulls__"),
        ],
        lambda w: [
            F.coalesce(F.sum(a).over(w), F.lit(0)).alias(b)
            for a, b in (
                ("__cnt__", "__rb__"), ("__nd__", "__db__"),
                ("__nulls__", "__nn__"),
            )
        ],
        onto=sdf,
    )


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
    run ids + spine offsets: offset(c) = the run count of the chunks
    before c MINUS the boundary merges up to and including c's own
    leading boundary (a run straddling k boundaries loses k
    double-counts — the cumulative form chains exactly)."""
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

    def carry(w):
        # every spine row holds a non-NULL struct, so the last one
        # before is exactly the previous chunk's last row
        prev_last = F.last("__last__").over(w)
        # field-wise null-safe equality (a struct EqualNullSafe would
        # treat a struct with null FIELDS as a plain value; the run
        # semantics are per-column NA == NA)
        eq = F.lit(True)
        for c in names:
            eq = eq & F.col("__first__")[c].eqNullSafe(prev_last[c])
        merge = F.when(prev_last.isNotNull() & eq, F.lit(1)).otherwise(F.lit(0))
        before = F.coalesce(F.sum("__runs__").over(w), F.lit(0)) - F.coalesce(
            F.sum(merge).over(w), F.lit(0)
        )
        return [(before - merge).cast("long").alias("__off__")]

    out = (
        _carry_spine(
            local, keys,
            [
                F.max("__lrle__").alias("__runs__"),
                F.min_by(packed, F.col("__rn__")).alias("__first__"),
                F.max_by(packed, F.col("__rn__")).alias("__last__"),
            ],
            carry, onto=local,
        )
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
            _chunked_row_number(
                *_chunked_frame(dt, cols, order, n_chunks), out=out_col
            ).drop("__chunk__"),
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


def _running_fill_chunked(
    dt: DT, cols, by, order, suffix: str, n_chunks: int, reverse: bool
) -> DT:
    """Chunk-stitched LOCF/NOCB (the hot-key mitigation for running
    fills, same carry-in shape as asof_join(n_chunks=)): per-(key,
    chunk) running fill + a per-column last-non-null chunk summary
    (rank-keyed max_by), carried across the chunk spine — backwards for
    NOCB — and coalesced in: output = coalesce(in-chunk fill, carry).
    Exact for every column independently (NULL runs spanning several
    chunks chain through the spine's last(ignorenulls))."""
    from ..core import _ocol, _oflip

    sdf, keys, ordn = _chunked_frame(dt, by, order, n_chunks)
    names = _namelist(cols)
    # NaN participates as NA, masked into temp source columns so an
    # original column kept in the output (suffix != "") is untouched
    sdf = sdf.withColumns({f"__src_{c}__": _nan_na(dt, c) for c in names})
    eff = [_oflip(c) for c in ordn] if reverse else list(ordn)
    w_in = Window.partitionBy(*keys, "__chunk__").orderBy(
        *[_ocol(c) for c in eff]
    )
    frame = w_in.rowsBetween(Window.unboundedPreceding, 0)
    ranked = sdf.withColumn("__rn__", F.row_number().over(w_in))
    aggs = [
        F.max_by(
            F.col(f"__src_{c}__"),
            F.when(F.col(f"__src_{c}__").isNotNull(), F.col("__rn__")),
        ).alias(f"__end_{c}__")
        for c in names
    ]

    def carry(w):
        return [
            F.last(f"__end_{c}__", ignorenulls=True).over(w)
            .alias(f"__carry_{c}__")
            for c in names
        ]

    joined = _carry_spine(
        ranked, keys, aggs,
        carry=None if reverse else carry, back=carry if reverse else None,
        onto=sdf,
    )
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
        comb = {"sum": F.sum, "count": F.sum, "min": F.min,
                "max": F.max, "prod": F.product}[fun]
        joined = _carry_spine(
            sdf, keys,
            [fns[fun](F.col(c)).alias(f"__tot_{c}__") for c in names],
            lambda w: [
                comb(F.col(f"__tot_{c}__")).over(w).alias(f"__carry_{c}__")
                for c in names
            ],
            onto=sdf,
        )
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


def _adaptive_running_chunked(dt: DT, c, by, order, n_chunks: int,
                              c2=None):
    """Chunk-stitched (__pos__, __cs__, __cc__) for frolladaptive (see
    its n_chunks doc): per-(key, chunk) row_number / running DECIMAL
    sum / running non-null count, plus the chunk spine's totals of the
    chunks before. All three carries are associative (integer adds and
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
    # (total, carry, zero): the carry is 0 before the first chunk
    sums = [
        (F.count(F.lit(1)), "__n_car__", F.lit(0)),
        (F.sum(c), "__s_car__", F.lit(0).cast("decimal(18,4)")),
        (F.count(c), "__c_car__", F.lit(0)),
        *([(F.sum(c2), "__s2_car__", F.lit(0).cast("decimal(38,8)"))]
          if c2 is not None else []),
    ]
    out = (
        _carry_spine(
            sdf, keys,
            [tot.alias(f"__tot{i}__") for i, (tot, _, _) in enumerate(sums)],
            lambda w: [
                F.coalesce(F.sum(f"__tot{i}__").over(w), zero).alias(car)
                for i, (_, car, zero) in enumerate(sums)
            ],
            onto=base,
        )
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
        base = _chunked_row_number(
            *_chunked_frame(dt, by, order, n_chunks)
        ).drop("__chunk__")
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

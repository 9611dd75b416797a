"""Rolling (as-of) joins — ``X[Y, roll=...]`` (SURVEY §2.3).

Reference semantics: /root/reference/src/bmerge.c:13-17 — after the equi
keys match, the last join column "rolls": a Y (i) row with no exact match
takes the prevailing X row forward (roll=TRUE/+Inf: LOCF), backward
(roll=-Inf: NOCB), within a staleness limit (roll=n), or whichever is
nearer (roll="nearest"). rollends (R/data.table.R:597-608) controls
whether values roll past the first/last X observation.

Spark-first design — the union-tag algorithm (no Pandas, no driver):
  1. tag X rows 0 and Y rows 1, unionByName on (keys, time, payloads);
  2. one window per key ordered by (time, tag): last(x_payload,
     ignorenulls) carries the prevailing X row onto each Y row;
  3. filter to Y rows; apply the roll-distance / rollends predicates.
This is ONE shuffle on the equi keys and scales linearly; the sort within
partition is what bmerge's binary search becomes in a distributed setting.
A tag tiebreak (X before Y for forward, Y before X for backward) gives
data.table's "exact match wins" behavior at equal timestamps.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core import DT, _namelist

__all__ = ["asof_join"]

_TAG = "__src__"


def asof_join(
    x: DT,
    i: DT,
    on: Sequence[str],
    time_x: str,
    time_i: str,
    roll: float | str | bool = True,
    rollends: tuple[bool, bool] | None = None,
    nomatch: str | None = "NA",
    x_cols: Sequence[str] | None = None,
    suffix: str = "_x",
    n_chunks: int | str | None = None,
) -> DT:
    """``X[I, on=.(keys, time), roll=roll]`` — one output row per I row.

    roll: True/+inf (forward LOCF), -inf or "nocb" (backward), a positive
    number n (forward with staleness limit n, same time units), or
    "nearest". rollends=(first, last): roll the first X value backward to
    I rows before the first observation / the last X value forward past
    the last observation (reference R/data.table.R:597-608,
    src/bmerge.c:296-330; man/data.table.Rd rollends). Defaults follow
    the reference: (True, True) for "nearest", (False, True) for forward,
    (True, False) for backward. A finite roll=n limit also applies at the
    ends (Rd: "that limit is also applied when rolling the ends"), except
    roll="nearest" which the reference cannot limit.

    ``n_chunks=`` (opt-in, SCALE.md "Skewed keys"): hot-key chunk-stitch.
    The running fill is LINEAR per key but single-TASK per key — at the
    1000x extrapolation one 1B-row key is the wall. With n_chunks the
    key's timeline range-splits into n_chunks value chunks; the running
    fill runs per (key, chunk) — n_chunks-way parallel — and a per-chunk
    carry-in (the prevailing X row at each chunk boundary, one row per
    (key, chunk) from a map-side-combined aggregate + one tiny window
    over the chunk spine) stitches the chunks EXACTLY: same-t tiebreaks
    stay intra-chunk because equal times land in the same chunk.
    Requires a numeric time column (the chunk arithmetic); equivalence
    with the unsplit path is pinned by test_asof_chunk_stitch for every
    roll type. ``n_chunks="auto"`` probes the hottest key over BOTH
    sides (the window partition holds the union) and splits only past
    the measured break-even (window._resolve_n_chunks).
    """
    keys = _namelist(on)
    x_payload = [c for c in (x_cols or x.columns) if c not in keys and c != time_x]

    forward = roll is True or roll == float("inf") or (
        isinstance(roll, (int, float)) and not isinstance(roll, bool) and roll > 0
    )
    nearest = roll == "nearest"
    backward = (roll == "nocb") or (
        isinstance(roll, (int, float)) and not isinstance(roll, bool) and roll < 0
    )
    if not (forward or nearest or backward):
        # an unrecognized roll (e.g. the string "-inf" instead of
        # float("-inf")) must fail HERE, not as an unresolved-column
        # AnalysisException from the dead fill branches downstream
        raise ValueError(
            f"roll must be True/+n/float('inf') (forward), -n/"
            f"float('-inf')/'nocb' (backward), or 'nearest'; got {roll!r}"
        )
    limit = abs(roll) if isinstance(roll, (int, float)) and not isinstance(roll, bool) and roll not in (
        float("inf"), float("-inf")
    ) else None
    if rollends is None:
        rollends = (True, True) if nearest else ((False, True) if forward else (True, False))
    re_first, re_last = bool(rollends[0]), bool(rollends[1])
    # second fill pass only needed when the roll can cross to the other
    # side (rolling before-first for forward / past-last for backward) or
    # when a non-default rollends gates the end region (needs the other
    # side's timestamp to detect "past the last X" / "before the first").
    # Default forward (False, True) and backward (True, False) stay on
    # the one-window fast path.
    need_fwd = forward or nearest or (backward and (re_last or not re_first))
    need_bwd = backward or nearest or (forward and (re_first or not re_last))

    xt = x.df.select(
        *[F.col(k) for k in keys],
        F.col(time_x).alias("__t__"),
        F.lit(0).alias(_TAG),
        *[F.col(c).alias(f"__x_{c}__") for c in x_payload],
    )
    i_cols = [c for c in i.columns]
    it = i.df.select(
        *[F.col(k) for k in keys],
        F.col(time_i).alias("__t__"),
        F.lit(1).alias(_TAG),
        *[F.col(c).alias(f"__i_{c}__") for c in i_cols if c not in keys],
    )
    u = xt.unionByName(it, allowMissingColumns=True)

    from .window import _carry_spine, _chunked_frame, _resolve_n_chunks

    n_chunks = _resolve_n_chunks(u, keys, n_chunks)
    chunked = n_chunks is not None and n_chunks > 1
    part = list(keys)
    if chunked:
        # value-chunk the timeline per key: equal times share a chunk,
        # so the same-t tag tiebreak never crosses a chunk boundary
        u, _, _ = _chunked_frame(DT(u), keys, ["__t__"], n_chunks)
        part = [*keys, "__chunk__"]

    def fill(direction: str) -> list[Column]:
        if direction == "fwd":
            # X(tag 0) sorts before Y(tag 1) at equal t → exact match wins
            w = Window.partitionBy(*part).orderBy(F.col("__t__").asc(), F.col(_TAG).asc())
        else:
            # Backward fill as the MIRROR of the forward one: reverse the
            # sort (t desc, tag asc — so a same-t X row lands inside Y's
            # preceding frame and the exact match wins backward too) and
            # use the same unbounded-PRECEDING running frame. Never use
            # rowsBetween(0, unboundedFollowing) here: Spark evaluates
            # unbounded-following frames by re-aggregating the remaining
            # frame per row — O(rows²) per key (measured 149s for ONE
            # 100k-row key vs 0.4s for this mirrored running frame, and a
            # 23x cliff on a 10%-hot-key as-of join at sf1).
            w = Window.partitionBy(*part).orderBy(F.col("__t__").desc(), F.col(_TAG).asc())
        frame = w.rowsBetween(Window.unboundedPreceding, 0)
        get = lambda c: F.last(c, ignorenulls=True).over(frame)
        cols = [get(F.col(f"__x_{c}__")).alias(f"__{direction}_{c}__") for c in x_payload]
        cols.append(get(F.when(F.col(_TAG) == 0, F.col("__t__"))).alias(f"__{direction}_t__"))
        return cols

    proj = [u[c] for c in u.columns]
    if need_fwd:
        proj += fill("fwd")
    if need_bwd:
        proj += fill("bwd")
    filled = u.select(*proj).filter(F.col(_TAG) == 1)

    if chunked:
        # carry-in stitch: the prevailing values at each chunk END (for
        # the forward fill) / START (backward), carried across the
        # chunk spine and patched in where the in-chunk fill found
        # nothing. Per COLUMN, not per row: the running fill skips NULL
        # payload values independently per column (a later X row with a
        # NULL in one payload column does not mask an older non-NULL),
        # so each column's carry is its own last-non-null X value —
        # max_by/min_by over an ordering key masked to NULL on I rows
        # and NULL values. A chunk with no X rows passes the carry
        # through (last(ignorenulls) over the spine).
        srcs = {**{c: f"__x_{c}__" for c in x_payload}, "t": "__t__"}
        order_key = F.struct(F.col("__t__"), F.col(_TAG))

        def seen(s):
            return F.when((F.col(_TAG) == 0) & F.col(s).isNotNull(), order_key)

        aggs = []
        if need_fwd:
            aggs += [F.max_by(F.col(s), seen(s)).alias(f"__lastv_{c}__")
                     for c, s in srcs.items()]
        if need_bwd:
            aggs += [F.min_by(F.col(s), seen(s)).alias(f"__firstv_{c}__")
                     for c, s in srcs.items()]

        def carried(agg, pre):
            return lambda w: [
                F.last(f"__{agg}_{c}__", ignorenulls=True).over(w)
                .alias(f"{pre}{c}__")
                for c in srcs
            ]

        filled = _carry_spine(
            u, keys, aggs,
            carry=carried("lastv", "__cf_") if need_fwd else None,
            back=carried("firstv", "__cb_") if need_bwd else None,
            onto=filled,
        )
        patch = []
        for d, pre, need in (("fwd", "__cf_", need_fwd), ("bwd", "__cb_", need_bwd)):
            if need:
                for c in srcs:
                    patch.append(
                        F.coalesce(
                            F.col(f"__{d}_{c}__"), F.col(f"{pre}{c}__")
                        ).alias(f"__{d}_{c}__")
                    )
        keep = [
            c for c in filled.columns
            if not c.startswith(("__fwd_", "__bwd_", "__cf_", "__cb_"))
        ]
        filled = filled.select(*keep, *patch)

    has_prev = F.col("__fwd_t__").isNotNull() if need_fwd else F.lit(False)
    has_next = F.col("__bwd_t__").isNotNull() if need_bwd else F.lit(False)
    d_prev = F.col("__t__") - F.col("__fwd_t__")
    d_next = F.col("__bwd_t__") - F.col("__t__")
    within_prev = F.lit(True) if limit is None else (d_prev <= F.lit(limit))
    within_next = F.lit(True) if limit is None else (d_next <= F.lit(limit))

    # src selection per reference src/bmerge.c:296-330 (rollLow = use the
    # prevailing previous X row, rollUpp = use the next X row):
    if nearest:
        # no limit for nearest (bmerge.c:298 "can't limit the distance")
        use_prev = has_prev & (
            (has_next & (d_prev <= d_next)) | (~has_next & F.lit(re_last))
        )
        use_next = has_next & (
            (has_prev & (d_prev > d_next)) | (~has_prev & F.lit(re_first))
        )
    elif forward:
        # in-range LOCF always; past the last X only under rollends[last];
        # before the first X roll the FIRST value backward under
        # rollends[first]; finite limit applies at the ends too.
        use_prev = has_prev & (has_next | F.lit(re_last)) & within_prev
        use_next = ~has_prev & F.lit(re_first) & has_next & within_next
    else:
        use_next = has_next & (has_prev | F.lit(re_first)) & within_next
        use_prev = ~has_next & F.lit(re_last) & has_prev & within_prev

    if forward and not re_first and re_last:
        src = "fwd"  # one-sided fast path: prev-only selection
        valid = use_prev
    elif backward and re_first and not re_last:
        src = "bwd"
        valid = use_next
    else:
        picked = [
            F.when(use_prev, F.col(f"__fwd_{c}__"))
            .when(use_next, F.col(f"__bwd_{c}__"))
            .alias(f"__m_{c}__")
            for c in x_payload
        ]
        picked.append(
            F.when(use_prev, F.col("__fwd_t__"))
            .when(use_next, F.col("__bwd_t__"))
            .alias("__m_t__")
        )
        filled = filled.select(*filled.columns, *picked)
        src = "m"
        valid = use_prev | use_next
    filled = filled.withColumn("__valid__", valid)

    out_cols = [F.col(k) for k in keys]
    out_cols.append(F.col("__t__").alias(time_i))
    for c in i_cols:
        if c not in keys and c != time_i:
            out_cols.append(F.col(f"__i_{c}__").alias(c))
    for c in x_payload:
        name = c if c not in i_cols else f"{c}{suffix}"
        out_cols.append(F.when(F.col("__valid__"), F.col(f"__{src}_{c}__")).alias(name))
    matched_t = f"{time_x}{suffix}" if time_x in i_cols or time_x == time_i else time_x
    out_cols.append(F.when(F.col("__valid__"), F.col(f"__{src}_t__")).alias(matched_t))

    if nomatch is None:
        filled = filled.filter(F.col("__valid__"))
    out = filled.select(*out_cols)
    return DT(out, order_by=i.order_by)

"""Core table abstraction: a thin, immutable wrapper over a Spark DataFrame
that reproduces data.table's query surface ``DT[i, j, by]``.

Reference lifecycle being reproduced: ``"[.data.table"`` at
/root/reference/R/data.table.R:524 (capture i/j/by, evaluate i to a row
selection, group by `by`, evaluate j per group). Here the three clauses
compile to a declarative DataFrame plan — filter/join (i), select or agg
(j), groupBy (by) — and Catalyst replaces forder/bmerge/GForce
(/root/reference/src/forder.c, src/bmerge.c, src/gsumm.c) as the physical
engine. Mutation-by-reference (``:=``, /root/reference/src/assign.c:355)
becomes rebind-returning-new-DT (SURVEY §1.1).

Ordering: Spark DataFrames are unordered, but many reference operators are
order-sensitive (shift, roll joins, rleid — SURVEY §1.1). A DT therefore
carries an explicit ``order_by`` column list (its "row order"), set at
construction or via ``setkey``. Ordered operators require it and raise if
absent. This is deliberate: at 100 TB there is no meaningful "file order",
only declared order — a global row-number would serialize through one
reducer, so we never materialize one unless an operator truly needs it
(and then only per-group).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["DT", "N", "GRP", "fsort",
           "format_dt", "print_dt", "set_print_options",
           "as_data_table", "setDT"]


def as_data_table(obj, spark=None, columns=None, key=None, order_by=None):
    """as.data.table constructor family (reference R/as.data.table.R;
    the NAMESPACE S3 methods for data.frame/matrix/list/vector):

    - Spark DataFrame -> identity wrap (as.data.table.data.table)
    - pandas DataFrame -> Arrow-batched createDataFrame
      (as.data.table.data.frame)
    - mapping of name -> column values (as.data.table.list)
    - sequence of row tuples/dicts with ``columns``
      (as.data.table.matrix shape)

    Non-Spark inputs need ``spark`` (there is no hidden global
    session). setDT is the same call — Spark frames are immutable, so
    the reference's by-reference conversion collapses to the wrap
    (SURVEY §1)."""
    if isinstance(obj, DT):
        return DT(obj.df, key=key or obj.key, order_by=order_by or obj.order_by)
    if isinstance(obj, DataFrame):
        return DT(obj, key=key, order_by=order_by)
    if spark is None:
        raise ValueError("as_data_table needs spark= for non-Spark input")
    # pandas is only needed by this convenience constructor; keep it a
    # call-time import so the core DT surface works without pandas
    import pandas as pd

    if isinstance(obj, pd.DataFrame):
        return DT(spark.createDataFrame(obj), key=key, order_by=order_by)
    if isinstance(obj, Mapping):
        return DT(
            spark.createDataFrame(pd.DataFrame(dict(obj))),
            key=key, order_by=order_by,
        )
    return DT(
        spark.createDataFrame(obj, schema=list(columns) if columns else None),
        key=key, order_by=order_by,
    )


setDT = as_data_table

def N() -> Column:
    """data.table special symbol .N (group size) — man/special-symbols.Rd:14.
    Lazy (a function) because Columns need an active SparkContext."""
    return F.count(F.lit(1))


def GRP() -> Column:
    """.GRP — dense group counter; resolved inside grouped j as dense_rank
    over the grouping columns (man/special-symbols.Rd:20)."""
    raise NotImplementedError("use dense_rank over group cols; see operators.grouping")


def _to_col(c: Column | str) -> Column:
    return F.expr(c) if isinstance(c, str) else c


def _ocol(c: str) -> Column:
    """Order-list entry → sort Column. A '-' prefix means descending —
    the representation frev/setorder use for reversed declared order.

    NOTE: this maps to Spark's DEFAULT null placement (asc→nulls
    first, desc→nulls last) and Spark's native NaN order. Re-applying
    a DECLARED order or an explicit order= argument must instead go
    through :func:`_order_exprs`, which reproduces the forder missing
    placement (NA/NaN block per na_last, tests.Rraw 1988.5-.8) the
    sort that established the order used — the round-14 composition
    harness caught head-after-order losing na_last through this."""
    return F.col(c[1:]).desc() if c.startswith("-") else F.col(c)


class _OrderList(list):
    """Declared-order entries ('-' prefix = desc) plus the na_last flag
    of the sort that established them, so order-sensitive operators
    downstream (head/tail/positional/print/unique fromLast/...) can
    re-apply the SAME total order. Propagates automatically wherever a
    DT is built with ``order_by=<src>.order_by``."""

    __slots__ = ("na_last",)

    def __init__(self, items=(), na_last: bool = False):
        super().__init__(items)
        self.na_last = na_last


def _order_exprs(df: DataFrame, order, na_last: bool | None = None,
                 flip: bool = False) -> list[Column]:
    """Sort expressions reproducing an order list's TOTAL order:
    forder's per-double-column two-level NaN/NA key plus the na_last
    placement (reference src/forder.c, tests.Rraw 1988.5-.8).

    ``na_last=None`` reads the list's own flag (an _OrderList from a
    declared order carries it; a plain user-passed list defaults to
    False — the forder default). ``flip=True`` mirrors the total order
    — direction AND missing-block placement — the take-last-n /
    fromLast reversal."""
    if na_last is None:
        na_last = getattr(order, "na_last", False)
    if flip:
        order = [
            _oflip(c) if isinstance(c, str) else c for c in order
        ]
        na_last = not na_last
    return _forder_exprs(df, order, na_last)


def _oflip(c: str) -> str:
    """Flip one order-list entry's direction."""
    return c[1:] if c.startswith("-") else "-" + c


def _namelist(x: str | Sequence[str] | None) -> list[str]:
    if x is None:
        return []
    if isinstance(x, str):
        return [x]
    if isinstance(x, _OrderList):
        # keep the establishing sort's na_last flag riding along
        return _OrderList(x, na_last=x.na_last)
    return list(x)


class DT:
    """data.table-equivalent handle.

    ``dt[i]`` / ``dt[i, j]`` / ``dt[i, j, by]``:

    - ``i``: None (all rows), bool Column / SQL string (filter), or a DT /
      DataFrame (right-lookup join ``X[Y]`` — see operators.joins.lookup).
    - ``j``: None (all cols), list of names/Columns (select), or a Mapping
      name → Column/str (compute; with ``by`` it is the aggregate list).
    - ``by``: grouping columns/expressions (str, Column, or sequence).
      ``by=[]`` (explicit empty) = whole-table aggregate, matching
      data.table's aggregate-without-by returning one row.

    ``keyby=`` semantics (sorted result) via ``dt[i, j, by, keyby=True]``
    is exposed through :meth:`query`.
    """

    def __init__(
        self,
        df: DataFrame,
        key: Sequence[str] | None = None,
        order_by: Sequence[str] | None = None,
    ):
        self.df = df
        #: primary key / physical sort metadata (setkey, R/setkey.R:88)
        self.key: list[str] = _namelist(key)
        #: declared row order for order-sensitive operators (carries
        #: the establishing sort's na_last flag — see _OrderList)
        self.order_by: _OrderList = _OrderList(
            _namelist(order_by) or list(self.key),
            na_last=getattr(order_by, "na_last", False),
        )
        #: secondary-index metadata (setindex, R/setkey.R:11-19)
        self.index_names: list[str] = []

    # ------------------------------------------------------------------ util
    @property
    def columns(self) -> list[str]:
        return self.df.columns

    @property
    def schema(self):
        return self.df.schema

    def _wrap(self, df: DataFrame, key=None, order_by=None) -> "DT":
        return DT(df, key=key, order_by=order_by)

    def collect(self):
        return self.df.collect()

    def to_pandas(self):
        return self.df.toPandas()

    def count(self) -> int:
        return self.df.count()

    def show(self, n: int = 20, truncate: bool = True) -> None:
        # print.data.table preview (reference R/print.data.table.R)
        self.df.show(n, truncate)

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)

    # ------------------------------------------------------------- dt[i,j,by]
    def __getitem__(self, args) -> "DT":
        if not isinstance(args, tuple):
            args = (args,)
        i = args[0] if len(args) > 0 else None
        j = args[1] if len(args) > 1 else None
        by = args[2] if len(args) > 2 else None
        if isinstance(i, slice) and i != slice(None):
            return self.rows(i).query(i=None, j=j, by=by)
        return self.query(i=i, j=j, by=by)

    def rows(self, sl: slice) -> "DT":
        """Positional subset ``DT[3:5]`` (1-based inclusive like the
        reference, R/data.table.R:998; Python slice start is treated as
        1-based row number, stop inclusive). Needs the declared order
        and a global row_number — single-reducer cost by design
        (SURVEY §1.1); use keys/filters for at-scale subsetting."""
        if not self.order_by:
            raise ValueError("positional subset needs a declared order")
        start = sl.start or 1
        stop = sl.stop
        step = sl.step or 1
        w = Window.orderBy(*_order_exprs(self.df, self.order_by))
        df = self.df.withColumn("__pos__", F.row_number().over(w))
        pred = F.col("__pos__") >= start
        if stop is not None:
            pred = pred & (F.col("__pos__") <= stop)
        if step != 1:
            pred = pred & ((F.col("__pos__") - start) % step == 0)
        return self._wrap(
            df.filter(pred).drop("__pos__"),
            key=self.key, order_by=self.order_by,
        )

    def query(self, i=None, j=None, by=None, keyby: bool = False) -> "DT":
        df = self.df

        # ---- i clause: filter / positional / join -----------------------
        if i is not None and not (isinstance(i, slice) and i == slice(None)):
            if isinstance(i, (DT, DataFrame)):
                from .operators.joins import lookup

                base = self if df is self.df else self._wrap(df)
                joined = lookup(base, i if isinstance(i, DT) else DT(i))
                df = joined.df
            elif isinstance(i, (Column, str)):
                df = df.filter(_to_col(i))
            else:
                raise TypeError(f"unsupported i clause: {type(i)}")

        # ---- by clause --------------------------------------------------
        grouped = None
        by_cols: list[Column] = []
        by_names: list[str] = []
        if by is not None:
            if isinstance(by, (str, Column)):
                by = [by]
            elif isinstance(by, Mapping):
                by = [_to_col(v).alias(k) for k, v in by.items()]
            by_cols = [_to_col(b) for b in by]
            by_names = [b if isinstance(b, str) else _b_name(b) for b in by]
            if by_cols:
                grouped = df.groupBy(*by_cols)

        # ---- j clause ---------------------------------------------------
        if j is None:
            out = df if grouped is None else grouped.agg(N().alias("N"))
        elif isinstance(j, Mapping):
            exprs = [_to_col(v).alias(k) for k, v in j.items()]
            if grouped is not None:
                out = grouped.agg(*exprs)
            elif by is not None:  # by=[] → whole-table aggregate
                out = df.agg(*exprs)
            else:
                out = df.select(*exprs)
        elif isinstance(j, (list, tuple)):
            exprs = [F.col(c) if isinstance(c, str) else c for c in j]
            if grouped is not None:
                out = grouped.agg(*exprs)
            else:
                out = df.select(*exprs)
        elif isinstance(j, (str, Column)):
            c = F.col(j) if isinstance(j, str) and j in df.columns else _to_col(j)
            out = df.select(c) if grouped is None else grouped.agg(c)
        elif callable(j):
            # dogroups equivalent: arbitrary per-group function → see
            # operators.grouping.dogroups (applyInPandas)
            raise TypeError("pass callables to operators.grouping.dogroups")
        else:
            raise TypeError(f"unsupported j clause: {type(j)}")

        if keyby and by_names:
            out = out.orderBy(*[n for n in by_names if n])
            return self._wrap(out, key=by_names, order_by=by_names)
        if by is None and not isinstance(i, (DT, DataFrame)):
            # key retention through row-subset / column-select
            # (reference tests.Rraw 2344.04): the longest key PREFIX
            # whose columns survive UNTOUCHED is kept, even under
            # column reorder or new columns. Only plain name
            # passthroughs count — a computed column reusing a key
            # name drops the key (reference tracks plain references);
            # the declared order survives only whole
            if j is None:
                passthrough = set(out.columns)
            elif isinstance(j, (list, tuple)):
                passthrough = {c for c in j if isinstance(c, str)}
            else:
                passthrough = set()
            key = []
            for k in self.key or []:
                if k in passthrough:
                    key.append(k)
                else:
                    break
            order_by = (
                self.order_by
                if self.order_by
                and all(
                    (c[1:] if c.startswith("-") else c) in passthrough
                    for c in self.order_by
                )
                else None
            )
            return self._wrap(out, key=key or None, order_by=order_by)
        return self._wrap(out)

    # ----------------------------------------------------------- := / set*
    def let(self, **cols) -> "DT":
        """``DT[, c := ...]`` — add/replace columns; rebind semantics
        (reference src/assign.c:355; SURVEY §2.9). ``let(x=None)`` deletes."""
        drops = [k for k, v in cols.items() if v is None]
        adds = {k: _to_col(v) for k, v in cols.items() if v is not None}
        df = self.df
        if adds:
            df = df.withColumns(adds)
        if drops:
            df = df.drop(*drops)
        return self._wrap(df, key=self.key, order_by=self.order_by)

    def let_by(self, by, **cols) -> "DT":
        """Grouped ``:=``: ``DT[, c := mean(v), by=g]`` — attach a
        per-group AGGREGATE to every row of its group, keeping all rows
        (reference R/data.table.R grouped assign; the dogroups path in
        src/dogroups.c:61 when j is ``:=``). Each value must be an
        aggregate expression; it is evaluated over the whole group as
        an unordered window (partition-frame aggregate), so the plan is
        ONE hash exchange on the group key — no collect, no self-join
        back, and on a setkey'd / bucketed layout matching ``by`` the
        exchange is elided by EnsureRequirements. Arbitrary per-group
        vector expressions (not aggregate-shaped) belong to
        operators.grouping.dogroups."""
        from pyspark.sql.window import Window

        names = [by] if isinstance(by, (str, Column)) else list(by)
        w = Window.partitionBy(*[_to_col(b) for b in names])
        adds = {k: _to_col(v).over(w) for k, v in cols.items()}
        return self._wrap(
            self.df.withColumns(adds), key=self.key, order_by=self.order_by
        )

    def set_where(self, i, **cols) -> "DT":
        """Sub-assign on i rows: ``DT[i, c := v]`` → when(i, v).otherwise(c)
        (reference R/data.table.R:1520-1642)."""
        pred = _to_col(i)
        updates = {}
        for k, v in cols.items():
            old = F.col(k) if k in self.df.columns else F.lit(None)
            updates[k] = F.when(pred, _to_col(v)).otherwise(old)
        return self._wrap(self.df.withColumns(updates), key=self.key, order_by=self.order_by)

    def delete_rows(self, i) -> "DT":
        """Row deletion (reference src/deleterows.c:6) → inverted filter."""
        return self._wrap(
            self.df.filter(~_to_col(i)), key=self.key, order_by=self.order_by
        )

    def setnames(self, old, new=None) -> "DT":
        """setnames (reference R/data.table.R:2892)."""
        if isinstance(old, Mapping):
            mapping = dict(old)
        else:
            mapping = dict(zip(_namelist(old), _namelist(new)))
        # renaming onto an existing (un-renamed) column would create
        # duplicate names — the reference errors when that collides
        # with key columns (tests.Rraw 2374.04 "duplicated key
        # columns"); Spark duplicates break every downstream resolver,
        # so the guard applies to all columns (documented superset)
        kept = [c for c in self.df.columns if c not in mapping]
        clash = [v for v in mapping.values() if v in kept]
        # renaming TWO different columns to the same new name is the
        # same duplicate-creation hazard (ADVICE r13)
        vals = list(mapping.values())
        dup_new = sorted({v for v in vals if vals.count(v) > 1})
        if clash or dup_new:
            raise ValueError(
                "setnames would create duplicated column names: "
                f"{sorted(set(clash)) + dup_new}"
            )
        df = self.df.withColumnsRenamed(mapping)
        ren = lambda n: mapping.get(n, n)
        return self._wrap(
            df, key=[ren(k) for k in self.key],
            order_by=_OrderList(
                [ren(o) for o in self.order_by],
                na_last=self.order_by.na_last,
            ),
        )

    def setcolorder(self, neworder: Sequence[str]) -> "DT":
        """setcolorder (reference R/data.table.R:2982)."""
        neworder = _namelist(neworder)
        rest = [c for c in self.df.columns if c not in neworder]
        return self._wrap(
            self.df.select(*neworder, *rest), key=self.key, order_by=self.order_by
        )

    # --------------------------------------------------------------- keys
    def setkey(self, *cols: str, repartition: bool = True) -> "DT":
        """setkey: physically range-partition + sort by key and record it
        (reference R/setkey.R:88-114, src/reorder.c:8).

        At scale this is the analog of data.table's physical reorder: a
        range exchange co-locates key ranges so later sort-merge joins and
        keyed group-bys avoid a re-shuffle (Catalyst's EnsureRequirements
        elides redundant sorts on the sorted-within-partitions output).
        """
        cols = [c for c in cols]
        if len(set(cols)) != len(cols):
            # reference #4888/#4891 (tests.Rraw 2374.01/.03)
            raise ValueError("cols contains duplicate column names")
        df = self.df
        if repartition:
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        return self._wrap(df, key=cols, order_by=cols)

    def setorder(
        self, *cols: str, na_last: bool = False, order=None
    ) -> "DT":
        """setorder / DT[order(...)] (reference R/setkey.R:230). Use
        '-col' prefix for descending.

        ``order=`` (reference setorderv order= named mapping, #6932,
        tests.Rraw 2385 — round-13 port): a {column: +1/-1} mapping or
        a sequence of (column, +1/-1) pairs REPLACES ``cols`` — +1
        ascending, -1 descending. Errors match the reference: unknown
        columns ("some columns are not in the data.table"), duplicate
        names ("order argument has named duplicates"), values outside
        ±1 ("Must be +1 or -1").

        Missing placement matches the reference's forder (tests.Rraw
        1988.5-.8): the NA block is outermost with NaN immediately
        inside it, regardless of direction — na_last=False (reference
        setorder default) puts NA then NaN FIRST, na_last=True (the
        ``DT[order(.)]`` base-R-consistent default, R/setkey.R:230
        comment) puts NaN then NA LAST. Implemented as a per-column
        two-level sort key for float/double columns (missing-level
        0=value/1=NaN/2=NA) and explicit nulls_first/nulls_last
        otherwise; Spark's native NaN-after-+Inf ordering only applies
        when ``nan_is_na``-style handling is bypassed."""
        if order is not None:
            items = (
                list(order.items()) if hasattr(order, "items")
                else [(str(k), v) for k, v in order]
            )
            names = [k for k, _ in items]
            if len(set(names)) != len(names):
                raise ValueError("order argument has named duplicates")
            missing = [k for k in names if k not in self.columns]
            if missing:
                raise ValueError(
                    f"some columns are not in the data.table: {missing}"
                )
            if any(int(v) not in (1, -1) for _, v in items):
                raise ValueError("order values: Must be +1 or -1")
            cols = tuple(
                ("-" if int(v) == -1 else "") + k for k, v in items
            )
        # keep the '-' prefix in the declared order; the na_last flag
        # rides along so order consumers (_order_exprs) re-apply the
        # SAME missing-value placement
        return self._wrap(
            self.df.orderBy(*_forder_exprs(self.df, cols, na_last)),
            order_by=_OrderList(
                [c for c in cols if isinstance(c, str)], na_last=na_last
            ),
        )

    def order(self, *cols: str) -> "DT":
        """``DT[order(...)]`` — like :meth:`setorder` but with
        na_last=True: the reference keeps DT[order(.)] consistent with
        base R (NA last) while setorder defaults NA first
        (R/setkey.R:230 comment). Same two-level NaN/NA key."""
        return self.setorder(*cols, na_last=True)

    def setindex(self, *cols: str) -> "DT":
        """setindex (reference R/setkey.R:11-19): metadata-only here —
        Parquet min/max pruning + AQE replace stored order vectors
        (SURVEY §1.1); the PHYSICAL analog is
        ``sources.setindex_physical`` (bucketed+sorted table whose joins
        elide their exchange). Records the index name like the
        reference's ``__col1__col2`` attribute so ``indices()`` can
        report it."""
        if len(set(cols)) != len(cols):
            raise ValueError("cols contains duplicate column names")
        name = "__" + "__".join(cols)
        if cols and name not in self.index_names:
            self.index_names.append(name)
        return self

    def indices(self) -> list[str]:
        """indices() (reference R/setkey.R:90-106): names of recorded
        secondary indices, reference-style ``__col1__col2`` strings."""
        return list(self.index_names)

    def subset(self, i=None, select=None) -> "DT":
        """subset.data.table (reference NAMESPACE S3 method): base-R verb
        over the same i/j machinery — filter rows, keep columns."""
        return self.query(i=i, j=_namelist(select) or None)

    def transform_cols(self, **cols) -> "DT":
        """transform.data.table / within.data.table (reference NAMESPACE
        S3 methods): add or replace computed columns; same rebind
        semantics as :meth:`let` minus column deletion (a None value —
        let's delete marker — is rejected here, not silently applied)."""
        dels = [k for k, v in cols.items() if v is None]
        if dels:
            raise ValueError(
                f"transform_cols does not delete columns: {dels};"
                " use let(col=None)"
            )
        return self.let(**cols)

    def copy(self) -> "DT":
        """copy() (reference R/data.table.R:2846) — identity under
        immutability; carries key/order AND index metadata like the
        reference's attribute copy."""
        out = self._wrap(self.df, key=self.key, order_by=self.order_by)
        out.index_names = list(self.index_names)
        return out

    # ------------------------------------------------------------- helpers
    def head(self, n: int = 6) -> "DT":
        """head.data.table (reference R/data.table.R:2411-2416): first n
        rows in the declared order; a NEGATIVE n keeps all but the last
        |n| rows (tests.Rraw 1048 — one count job resolves it). With no
        declared order the rows are engine-arbitrary (limit), the
        preview use."""
        if n < 0:
            n = max(self.df.count() + n, 0)
        df = self.df
        if self.order_by:
            df = df.orderBy(*_order_exprs(self.df, self.order_by))
        return self._wrap(df.limit(n), key=self.key, order_by=self.order_by)

    def tail(self, n: int = 6) -> "DT":
        """tail.data.table (reference R/data.table.R:2417-2422): last n
        rows in the declared order; negative n drops the first |n|
        (tests.Rraw 1052). Needs an order — an unordered table has no
        'last' (SURVEY §1.1)."""
        if not self.order_by:
            raise ValueError("tail needs a declared order (SURVEY §1.1)")
        if n < 0:
            n = max(self.df.count() + n, 0)
        rev = self.df.orderBy(
            *_order_exprs(self.df, self.order_by, flip=True)
        ).limit(n)
        return self._wrap(
            rev.orderBy(*_order_exprs(rev, self.order_by)),
            key=self.key,
            order_by=self.order_by,
        )

    def first(self) -> "DT":
        """first(DT) = head(1) (reference R/utils.R first)."""
        return self.head(1)

    def last(self) -> "DT":
        """last(DT) = tail(1) (reference R/utils.R last)."""
        return self.tail(1)

    def which(self, i, na: bool = False) -> DataFrame:
        """``DT[i, which=TRUE]`` — 1-based row numbers of matching rows
        in the declared order (reference R/data.table.R:617-619,1052);
        ``na=True`` gives the NON-matching rows' numbers (``which=NA``).

        Positions are global, so this uses an unpartitioned window — a
        deliberate single-reducer cost, matching the semantics of "row
        number in the table"; use only where the reference idiom is used
        (small/driver-bound outputs)."""
        if not self.order_by:
            raise ValueError("which needs a declared order (SURVEY §1.1)")
        w = Window.orderBy(*_order_exprs(self.df, self.order_by))
        # NULL predicate rows are non-matches (data.table which=NA
        # semantics): compare null-safely so ~pred doesn't drop them
        matched = _to_col(i).eqNullSafe(F.lit(True))
        out = self.df.withColumn("which", F.row_number().over(w))
        out = out.filter(~matched if na else matched)
        return out.select("which")

    def na_omit(self, cols: Sequence[str] | None = None, invert: bool = False) -> "DT":
        """na.omit (reference R/data.table.R:2640-2674)."""
        cols = _namelist(cols) or self.df.columns
        if not invert:
            return self._wrap(self.df.na.drop(subset=cols))
        pred = None
        for c in cols:
            p = F.col(c).isNull()
            pred = p if pred is None else (pred | p)
        return self._wrap(self.df.filter(pred))


def _b_name(c: Column) -> str:
    # best-effort name extraction for keyby ordering
    try:
        return c._jc.toString().split(" AS ")[-1].strip("`")
    except Exception:  # pragma: no cover
        return ""


def _forder_exprs(df: DataFrame, cols, na_last: bool) -> list[Column]:
    """Shared forder sort-key builder (reference src/forder.c NA<NaN<
    values rule, tests.Rraw 1988.5-.8): per-column two-level key for
    float/double (missing-level 0=value/1=NaN/2=NA — the NA block
    outermost, NaN adjacent, in BOTH directions), explicit
    nulls_first/last otherwise. '-' prefix = descending."""
    exprs: list[Column] = []
    dtypes = dict(df.dtypes)
    for c in cols:
        if not isinstance(c, str):
            exprs.append(_to_col(c))
            continue
        desc = c.startswith("-")
        name = c[1:] if desc else c
        col = F.col(name)
        if dtypes.get(name) in ("float", "double"):
            lvl = (
                F.when(col.isNull(), F.lit(2))
                .when(F.isnan(col), F.lit(1))
                .otherwise(F.lit(0))
            )
            exprs.append(lvl.asc() if na_last else lvl.desc())
            exprs.append(col.desc() if desc else col.asc())
        elif na_last:
            exprs.append(
                col.desc_nulls_last() if desc else col.asc_nulls_last()
            )
        else:
            exprs.append(
                col.desc_nulls_first() if desc else col.asc_nulls_first()
            )
    return exprs


def fsort(dt: DT, *cols: str, decreasing: bool = False,
          na_last: bool = False) -> DT:
    """fsort (reference R/setkey.R:210, src/fsort.c:255 — parallel MSD
    radix sort; with NAs/decreasing it falls back to forderv, so the
    missing-value placement contract is forder's NA-then-NaN block,
    na.last=FALSE default). Spark's orderBy IS a distributed
    sample-based range-partition sort, so the dedicated API is a thin
    wrapper: sample → range-exchange → per-partition sort, every stage
    parallel (the cluster form of fsort's thread-per-MSD-bucket
    design). Records the resulting order (with direction) in the DT
    metadata."""
    cols = list(cols) or list(dt.order_by) or list(dt.columns[:1])
    order = [("-" + c) if decreasing else c for c in cols]
    return DT(
        dt.df.orderBy(*_forder_exprs(dt.df, order, na_last)),
        order_by=_OrderList(order, na_last=na_last),
    )


_TABLE_ORDER = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    # (l_orderkey, l_linenumber) is NOT unique in the driver data; extend
    # the declared order so order-sensitive operators are deterministic.
    "lineitem": ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


# events.parquet stores ts as parquet TIMESTAMP(NANOS). Spark 4 reads that
# column as TIMESTAMP_NTZ, truncated to micros (the same floor-to-µs DuckDB
# applies on read, so the oracle agrees).
# _EPOCH_US_FROM_NTZ converts the NTZ wall clock to epoch micros WITHOUT
# consulting spark.sql.session.timeZone (unix_date/hour/minute/date_part on
# NTZ are pure wall-clock field extractions), so the result is identical on
# any vanilla session in any timezone — verified equal to DuckDB's
# epoch_us(ts) under both Etc/UTC and America/New_York.
_EPOCH_US_FROM_NTZ = (
    "unix_date(cast({c} as date)) * 86400000000L"
    " + hour({c}) * 3600000000L + minute({c}) * 60000000L"
    " + cast(date_part('SECOND', {c}) * 1000000 as bigint)"
)


def derive_event_time(df: DataFrame) -> DataFrame:
    """Normalize the raw events frame to the engine's event-time contract:
    ``ts_us`` bigint epoch-micros, ``ts_ns`` bigint epoch-nanos, ``ts``
    TimestampType (micros instant). The parquet TIMESTAMP(NANOS) column
    arrives as TIMESTAMP_NTZ, its sub-µs precision already floored away
    by the reader."""
    from pyspark.sql.types import TimestampNTZType

    dtype = df.schema["ts"].dataType
    if isinstance(dtype, TimestampNTZType):
        # original columns with ts replaced by ts_ns in place, then ts_us
        # and ts appended
        order = [
            "ts_ns" if c == "ts" else c for c in df.columns
        ] + ["ts_us", "ts"]
        return (
            df.withColumn(
                "ts_us", F.expr(_EPOCH_US_FROM_NTZ.format(c="ts"))
            )
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .select(*order)
        )
    # already TimestampType (e.g. a re-written micros parquet) — same
    # column contract as the NTZ branch: ts_ns in place of ts, then ts_us
    # and ts appended, so every read path yields one schema
    order = ["ts_ns" if c == "ts" else c for c in df.columns] + ["ts_us", "ts"]
    return (
        df.withColumn("ts_us", F.unix_micros(F.col("ts")))
        .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
        .select(*order)
    )


class Tables:
    """Lazy table registry — reads each parquet footer only on first access
    (the reference's tables() catalog role, R/tables.R:31)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DT] = {}

    def __getitem__(self, name: str) -> DT:
        if name not in self._cache:
            df = self.spark.read.parquet(f"{self.sf_dir}/{name}.parquet")
            if name == "events":
                # ts_us matches DuckDB's epoch_us(ts) exactly on every
                # supported read path — use it in oracle-compared
                # event-time outputs.
                df = derive_event_time(df)
            self._cache[name] = DT(df, order_by=_TABLE_ORDER.get(name))
        return self._cache[name]

    def keys(self):
        return _TABLE_ORDER.keys()


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    """Load the driver's star schema with natural-key order declared
    (TESTDATA.md). The declared orders give ordered operators a
    deterministic, scalable (per-group window) ordering."""
    return Tables(spark, sf_dir)


def tables(spark: SparkSession, registry: "Tables | None" = None):
    """tables() catalog (reference R/tables.R:31): one row per known
    table with name, columns, and key metadata. Covers both the session
    catalog (saveAsTable output) and a loaded Tables registry."""
    rows = []
    for t in spark.catalog.listTables():
        cols = [c.name for c in spark.catalog.listColumns(t.name)]
        rows.append((t.name, len(cols), ",".join(cols), ""))
    if registry is not None:
        for name in registry.keys():
            dt = registry[name]
            rows.append(
                (name, len(dt.columns), ",".join(dt.columns),
                 ",".join(dt.key or dt.order_by))
            )
    return spark.createDataFrame(
        rows, "name string, ncol int, cols string, key string"
    )


# datatable.print.* option analogs (reference R/print.data.table.R:3-13).
# Mutable module state, read by format_dt at call time; set via
# set_print_options(topn=..., ...) like options(datatable.print.topn=).
PRINT_OPTS = {
    "topn": 5,          # datatable.print.topn
    "nrows": 100,       # datatable.print.nrows
    "class": False,     # datatable.print.class (class row under names)
    "row_names": True,  # datatable.print.rownames ("1:" gutter)
    "col_names": "auto",  # datatable.print.colnames auto|top|none
    "print_keys": True,   # datatable.print.keys (Key:/Index: header)
    "trunc_char": 0,      # datatable.prettyprint.char (0 = no cell cap)
}

_CLASS_ABB = {
    # reference class_abb table (R/print.data.table.R:108-112) keyed by
    # the Spark simpleString type instead of the R class
    "int": "<int>", "smallint": "<int>", "tinyint": "<int>",
    "bigint": "<i64>", "double": "<num>", "float": "<num>",
    "string": "<char>", "boolean": "<lgcl>", "date": "<Date>",
    "timestamp": "<POSc>", "timestamp_ntz": "<POSc>", "binary": "<raw>",
}


def set_print_options(**kw) -> None:
    """options(datatable.print.*) analog; unknown keys raise."""
    for k, v in kw.items():
        if k not in PRINT_OPTS:
            raise ValueError(f"unknown print option: {k}")
        PRINT_OPTS[k] = v


def _abb(spark_type: str) -> str:
    if spark_type in _CLASS_ABB:
        return _CLASS_ABB[spark_type]
    if spark_type.startswith("decimal"):
        return "<num>"
    if spark_type.startswith(("array", "map", "struct")):
        return "<list>"
    return f"<{spark_type}>"


def _fmt_cell(v, trunc_char: int, is_char: bool, na_print=None) -> str:
    if v is None:
        # na.encode=FALSE convention: character NA prints <NA>, other
        # types plain NA (reference print.data.table format call)
        if na_print is not None:
            return na_print
        return "<NA>" if is_char else "NA"
    s = str(v)
    if trunc_char and len(s) > trunc_char:
        s = s[:trunc_char] + "..."
    return s


# format_col / format_list_item — the reference's print-customization
# hooks (NAMESPACE exports; R/print.data.table.R:198-247 dispatches
# per column class so users can override a column's rendering). The S3
# analog here is a per-Spark-dtype registry consulted by format_dt.
_FORMAT_COL_METHODS: dict = {}


def register_format_col(dtype: str, fn) -> None:
    """Register (or, with fn=None, remove) a cell renderer for a Spark
    dtype string (e.g. "timestamp", "double") — the analog of defining
    an S3 `format_col.<class>` method in the reference."""
    if fn is None:
        _FORMAT_COL_METHODS.pop(dtype, None)
    else:
        _FORMAT_COL_METHODS[dtype] = fn


def format_list_item(v, trunc_char: int = 0) -> str:
    """format_list_item.default (reference print.data.table.R:238):
    NULL item -> "[NULL]"; atomic vector -> first 6 items comma-joined
    + "...[n]" when longer; structured objects -> "<class>"."""
    if v is None:
        return "[NULL]"
    from pyspark.sql import Row

    if isinstance(v, Row):
        return f"<struct[{len(v)}]>"
    if isinstance(v, dict):
        return f"<map[{len(v)}]>"
    if isinstance(v, (list, tuple)):
        items = [format_list_item(x, trunc_char) for x in v[:6]]
        tail = f",...[{len(v)}]" if len(v) > 6 else ""
        return ",".join(items) + tail
    return _fmt_cell(v, trunc_char, isinstance(v, str))


def format_col(
    v, dtype: str, trunc_char: int = 0, na_print=None
) -> str:
    """format_col dispatch (reference print.data.table.R:198,211): a
    registered per-dtype method wins; list-typed columns (array/map/
    struct) render per item via format_list_item; scalars take the
    default format path."""
    fn = _FORMAT_COL_METHODS.get(dtype)
    if fn is not None:
        return str(fn(v))
    if dtype.startswith(("array", "map", "struct")):
        if v is None:
            return "[NULL]"
        return format_list_item(v, trunc_char)
    return _fmt_cell(v, trunc_char, dtype == "string", na_print)


def format_dt(
    dt: "DT",
    topn: int | None = None,
    nrows: int | None = None,
    class_: bool | None = None,
    row_names: bool | None = None,
    col_names: str | None = None,
    print_keys: bool | None = None,
    trunc_char: int | None = None,
    na_print: str | None = None,
) -> str:
    """print.data.table fidelity (reference R/print.data.table.R:1-162):
    top-n + '---' + bottom-n with TRUE row numbers when the table is
    large (n > nrows, or topn explicitly given), whole table otherwise;
    optional class row under the names; Key:/Index: header lines;
    col.names auto|top|none with the >20-row bottom-repeat rule; cell
    truncation at trunc_char; character NA as <NA>. Driver cost is
    bounded: collects at most 2*topn (or nrows) rows; one count() job.
    The bottom-n rows come from orderBy-desc + limit when the DT
    declares an order, else DataFrame.tail (physical order, like the
    reference's memory order)."""
    o = PRINT_OPTS
    topn_given = topn is not None
    topn = max(int(topn if topn_given else o["topn"]), 1)
    nrows = int(nrows if nrows is not None else o["nrows"])
    class_ = o["class"] if class_ is None else class_
    row_names = o["row_names"] if row_names is None else row_names
    col_names = o["col_names"] if col_names is None else col_names
    print_keys = o["print_keys"] if print_keys is None else print_keys
    trunc_char = o["trunc_char"] if trunc_char is None else trunc_char
    if col_names not in ("auto", "top", "none"):
        raise ValueError(
            "Valid options for col.names are 'auto', 'top', and 'none'"
        )
    if nrows <= 0:
        return ""
    cols = self_cols = dt.df.columns
    header = []
    if print_keys:
        if dt.key:
            header.append(f"Key: <{', '.join(dt.key)}>")
        idx = dt.indices() if hasattr(dt, "indices") else []
        if idx:
            # reference prints indices() names ("a__b") wrapped in <>
            label = "Index" if len(idx) == 1 else "Indices"
            header.append(
                f"{label}: "
                + ", ".join(f"<{i.removeprefix('__')}>" for i in idx)
            )
    if not cols:
        return "Null data.table (0 rows and 0 cols)"
    n = dt.df.count()
    if n == 0:
        shown = ",".join(cols[:6]) + ("..." if len(cols) > 6 else "")
        return (
            f"Empty data.table (0 rows and {len(cols)} cols): {shown}"
        )
    printdots = (topn * 2 + 1) < n and (n > nrows or topn_given)
    if printdots:
        if dt.order_by:
            ob = _order_exprs(dt.df, dt.order_by)
            head = dt.df.orderBy(*ob).limit(topn).collect()
            tail = list(reversed(
                dt.df.orderBy(*_order_exprs(dt.df, dt.order_by,
                                            flip=True))
                .limit(topn).collect()
            ))
        else:
            head = dt.df.limit(topn).collect()
            tail = dt.df.tail(topn)
        rows = [(i + 1, r) for i, r in enumerate(head)]
        rows += [(n - topn + i + 1, r) for i, r in enumerate(tail)]
    else:
        src = (
            dt.df.orderBy(*_order_exprs(dt.df, dt.order_by))
            if dt.order_by else dt.df
        )
        rows = [(i + 1, r) for i, r in enumerate(src.limit(n).collect())]
    types = dict(dt.df.dtypes)
    cells = [
        [format_col(r[c], types[c], trunc_char, na_print) for c in cols]
        for _, r in rows
    ]
    show_names = col_names != "none"
    show_class = class_ and show_names
    name_row = cols if show_names else [""] * len(cols)
    class_row = [_abb(types[c]) for c in cols] if show_class else None
    widths = [
        max(
            len(name_row[j]),
            len(class_row[j]) if class_row else 0,
            *(len(row[j]) for row in cells),
        )
        for j in range(len(cols))
    ]
    iw = (len(str(n)) + 1) if row_names else 0

    def line(gutter: str, vals) -> str:
        return gutter.rjust(iw) + " " + "  ".join(
            v.rjust(w) for v, w in zip(vals, widths)
        )

    out = list(header)
    body = []
    if show_names:
        body.append(line("", name_row))
    if class_row:
        body.append(line("", class_row))
    for pos, ((idx, _), row) in enumerate(zip(rows, cells)):
        if printdots and pos == topn:
            body.append("---".rjust(iw + 3) if row_names else "---")
        body.append(line(f"{idx}:" if row_names else "", row))
    # reference: repeat colnames (and class row) at the bottom when over
    # 20 printed rows and col.names == "auto", so you don't scroll up
    if not printdots and len(cells) > 20 and col_names == "auto":
        body.append(line("", name_row))
        if class_row:
            body.append(line("", class_row))
    out.extend(body)
    return "\n".join(out)


def print_dt(dt: "DT", **kw) -> None:
    """print.data.table (reference R/print.data.table.R:3)."""
    s = format_dt(dt, **kw)
    if s:
        print(s)


def _dt_repr(self) -> str:
    """print.data.table-style preview via format_dt, plus the repo's
    [n rows x m cols] trailer (the Spark-native shape summary)."""
    body = format_dt(self)
    n = self.df.count()
    trailer = f"[{n} rows x {len(self.df.columns)} cols]"
    return (body + "\n" if body else "") + trailer


DT.__repr__ = _dt_repr


def _nrow(self) -> int:
    return self.df.count()


def _ncol(self) -> int:
    return len(self.df.columns)


DT.nrow = property(_nrow)
DT.ncol = property(_ncol)


def is_data_table(x) -> bool:
    """is.data.table (reference R/data.table.R): True for DT handles."""
    return isinstance(x, DT)


def session_scratch_dir(spark, kind: str) -> str:
    """Per-Spark-application scratch directory under this TREE's .tmp
    (never another checkout's): .tmp/<kind>/<applicationId-tag>.
    Concurrent sessions get disjoint write targets (no overwrite race);
    disk growth is bounded by a best-effort sweep of sibling tags.
    Liveness is tracked by a heartbeat file the owning session touches
    on every call (a directory's own mtime only moves on direct child
    changes, so raw dir-mtime could reap a long-lived quiet session —
    ADVICE r5); sweep requires the heartbeat to be >48h stale."""
    import os
    import re as _re
    import shutil
    import time as _time

    tag = _re.sub(r"[^0-9a-zA-Z]", "_", spark.sparkContext.applicationId)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent = os.path.join(root, ".tmp", kind)
    base = os.path.join(parent, tag)
    os.makedirs(base, exist_ok=True)
    hb = os.path.join(base, ".heartbeat")
    try:
        with open(hb, "w") as f:
            f.write(str(_time.time()))
    except OSError:
        pass
    try:
        cutoff = _time.time() - 48 * 3600
        for d in os.listdir(parent):
            p = os.path.join(parent, d)
            if d == tag or not os.path.isdir(p):
                continue
            marker = os.path.join(p, ".heartbeat")
            ts = os.path.getmtime(marker) if os.path.exists(marker) else os.path.getmtime(p)
            if ts < cutoff:
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    return base


# The RDDs ``materialize`` pinned inside the innermost open
# ``query_scope`` of this thread or task (None: no scope open). A
# ContextVar, so threads sharing one session never free each other's
# blocks.
_PINNED: ContextVar[list | None] = ContextVar("_PINNED", default=None)


def materialize(df: DataFrame) -> DataFrame:
    """The library's one way to materialize an intermediate: a lazy
    ``localCheckpoint``. The first action over the result computes it
    once into executor-local blocks, and every later consumer reads
    those blocks instead of replaying the lineage. Inside a
    ``query_scope`` the blocks are freed when the scope exits; with no
    scope open they stay until Spark's ContextCleaner reaps them after
    the frame is garbage-collected."""
    out = df.localCheckpoint(eager=False)
    pinned = _PINNED.get()
    if pinned is not None:
        pinned.append(out._jdf.logicalPlan().rdd())
    return out


def release(df: DataFrame) -> None:
    """Free, non-blocking, the blocks of a frame ``materialize`` returned
    once nothing reads it again, and drop it from the open
    ``query_scope``'s list. For an intermediate an iterative loop
    supersedes each round, so only the live one stays pinned."""
    rdd = df._jdf.logicalPlan().rdd()
    pinned = _PINNED.get()
    if pinned is not None:
        pinned[:] = [r for r in pinned if r.id() != rdd.id()]
    rdd.unpersist(False)


@contextmanager
def query_scope() -> Iterator[list]:
    """Run a query inside this block and free, blocking, exactly the
    intermediates ``materialize`` pinned in it when the block exits.
    Other persisted RDDs (a caller's own cached tables, another thread's
    scope) are left alone. Consume the result inside the block: a frame
    that reads a freed intermediate fails once the block has exited.
    Yields the list of pinned RDDs; its length is the number released."""
    pinned: list = []
    token = _PINNED.set(pinned)
    try:
        yield pinned
    finally:
        _PINNED.reset(token)
        for rdd in pinned:
            rdd.unpersist(True)

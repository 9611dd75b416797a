"""Scalar-function and UDF-surface query registrations (SURVEY §2.6,
§2.10, §2.11): date parts, date rounding, JSON extraction, vecseq row
expansion, ordered top-k, grouped-map UDTF (dogroups), frollapply.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .core import DT, load_tables
from .exact import dsum, sql_dsum, sql_round
from .queries import query


@query(
    "date_parts",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mon,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofyear(o_orderdate) AS INT) AS yday,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS wday,
           CAST(dayofmonth(o_orderdate) AS INT) AS mday,
           CAST(week(o_orderdate) AS INT) AS isoweek,
           CAST(isoyear(o_orderdate) AS INT) AS isoyr,
           CAST(year(o_orderdate) + (month(o_orderdate) - 1) / 12.0
                AS DOUBLE) AS yearmon,
           CAST(year(o_orderdate) + (quarter(o_orderdate) - 1) / 4.0
                AS DOUBLE) AS yearqtr
    FROM orders
    """,
)
def q_date_parts(spark, sf_dir):
    """IDate part extraction (reference R/IDateTime.R:386-440,
    src/idatetime.c:122): year/month/quarter/yday/wday/mday/isoweek/
    isoyear/yearmon. wday is R's 1=Sunday (Spark dayofweek already is;
    DuckDB's 0=Sunday is shifted in the oracle)."""
    t = load_tables(spark, sf_dir)
    d = F.col("o_orderdate")
    return t["orders"].query(
        j={
            "o_orderkey": F.col("o_orderkey"),
            "yr": F.year(d).cast("int"),
            "mon": F.month(d).cast("int"),
            "qtr": F.quarter(d).cast("int"),
            "yday": F.dayofyear(d).cast("int"),
            "wday": F.dayofweek(d).cast("int"),
            "mday": F.dayofmonth(d).cast("int"),
            "isoweek": F.weekofyear(d).cast("int"),
            "isoyr": F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("int"),
            "yearmon": (
                F.year(d) + (F.month(d) - 1) / F.lit(12.0)
            ).cast("double"),
            "yearqtr": (
                F.year(d) + (F.quarter(d) - 1) / F.lit(4.0)
            ).cast("double"),
        }
    ).df


@query(
    "date_round",
    """
    SELECT o_orderkey,
           date_trunc('week', o_orderdate) AS wk,
           date_trunc('month', o_orderdate) AS mth,
           date_trunc('quarter', o_orderdate) AS qtr,
           date_trunc('year', o_orderdate) AS yr
    FROM orders
    """,
)
def q_date_round(spark, sf_dir):
    """round.IDate to week/month/quarter/year (reference
    R/IDateTime.R:99) — date_trunc in both engines (week = Monday in
    both)."""
    t = load_tables(spark, sf_dir)
    return t["orders"].query(
        j={
            "o_orderkey": F.col("o_orderkey"),
            "wk": F.date_trunc("week", "o_orderdate"),
            "mth": F.date_trunc("month", "o_orderdate"),
            "qtr": F.date_trunc("quarter", "o_orderdate"),
            "yr": F.date_trunc("year", "o_orderdate"),
        }
    ).df


@query(
    "json_extract_props",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def q_json_extract(spark, sf_dir):
    """JSON field extraction from the events props column (list-column
    analog, SURVEY §1.2 list-columns -> typed extraction)."""
    t = load_tables(spark, sf_dir)
    return t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "k": F.get_json_object("props", "$.k").cast("long"),
        }
    ).df


@query(
    "vecseq_expand",
    """
    SELECT l_orderkey, l_linenumber,
           unnest(generate_series(1, CAST(l_quantity AS INT))) AS k
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def q_vecseq(spark, sf_dir):
    """vecseq row expansion (reference src/vecseq.c:3): j returning a
    vector longer than 1 expands the group — sequence + explode."""
    t = load_tables(spark, sf_dir)
    out = (
        t["lineitem"]
        .query(i=F.col("l_orderkey") < 100)
        .df.select(
            "l_orderkey", "l_linenumber",
            F.explode(
                F.sequence(F.lit(1), F.col("l_quantity").cast("int"))
            ).alias("k"),
        )
    )
    return out


@query(
    "setorder_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_setorder_topk(spark, sf_dir):
    """DT[order(-x)][1:k] top-k idiom (SURVEY §2.6): global sort is
    short-circuited by Catalyst into TakeOrderedAndProject — no full
    shuffle-sort at any scale."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .query(j=["o_orderkey", "o_totalprice"])
        .df.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "dogroups_udtf",
    """
    SELECT l_returnflag,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ) AS BIGINT) AS ord,
           l_orderkey, l_linenumber
    FROM lineitem
    """,
)
def q_dogroups(spark, sf_dir):
    """dogroups grouped-map UDTF (reference src/dogroups.c:76): arbitrary
    per-group table result via applyInPandas — here each group returns
    its rows stamped with a within-group ordinal (integer-exact, so the
    oracle is a window row_number)."""
    from .operators.grouping import dogroups

    t = load_tables(spark, sf_dir)

    def per_group(pdf):
        pdf = pdf.sort_values(
            ["l_extendedprice", "l_orderkey", "l_linenumber"],
            kind="mergesort",
        )
        pdf = pdf.reset_index(drop=True)
        pdf["ord"] = pdf.index + 1
        return pdf[["l_returnflag", "ord", "l_orderkey", "l_linenumber"]]

    li = t["lineitem"].query(
        j=["l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"]
    )
    out = dogroups(
        li,
        by=["l_returnflag"],
        fn=per_group,
        schema="l_returnflag string, ord long, l_orderkey long,"
        " l_linenumber long",
        order=["l_extendedprice", "l_orderkey", "l_linenumber"],
    )
    return out.df


@query(
    "dogroups_arrow_udtf",
    """
    SELECT l_returnflag,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ) AS BIGINT) AS ord,
           l_orderkey, l_linenumber
    FROM lineitem
    """,
)
def q_dogroups_arrow(spark, sf_dir):
    """Arrow-native dogroups twin (Spark 4 applyInArrow): identical
    per-group UDTF semantics to dogroups_udtf but the group flows as a
    pyarrow.Table end-to-end — no Arrow→pandas→Arrow conversion on the
    worker. Same oracle as the pandas form; both must match it."""
    import pyarrow as pa

    from .operators.grouping import dogroups_arrow

    t = load_tables(spark, sf_dir)

    def per_group(tbl: "pa.Table") -> "pa.Table":
        # applyInArrow does NOT auto-widen types the way pandas
        # conversion does: the returned table must match the declared
        # schema exactly (parquet int32 -> declared long needs a cast)
        n = tbl.num_rows
        return pa.table(
            {
                "l_returnflag": tbl["l_returnflag"],
                "ord": pa.array(range(1, n + 1), type=pa.int64()),
                "l_orderkey": tbl["l_orderkey"].cast(pa.int64()),
                "l_linenumber": tbl["l_linenumber"].cast(pa.int64()),
            }
        )

    li = t["lineitem"].query(
        j=["l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"]
    )
    out = dogroups_arrow(
        li,
        by=["l_returnflag"],
        fn=per_group,
        schema="l_returnflag string, ord long, l_orderkey long,"
        " l_linenumber long",
        order=["l_extendedprice", "l_orderkey", "l_linenumber"],
    )
    return out.df


@query(
    "frollapply_median",
    """
    WITH w AS (
      SELECT event_id, user_id, value,
             median(value) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
             ) AS med,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY event_id
             ) AS rn
      FROM events
    )
    SELECT event_id, user_id, CAST(med AS DOUBLE) AS roll_med
    FROM w WHERE rn >= 5
    """,
)
def q_frollapply(spark, sf_dir):
    """frollapply (reference R/frollapply.R:128): arbitrary Python over a
    rolling window — np.median over 5-row windows per user (odd window:
    exact element selection, engine-portable). Partial windows drop."""
    import numpy as np

    from .operators.window import frollapply

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(j=["event_id", "user_id", "value"])
    out = frollapply(
        ev, "value", 5, np.median, by=["user_id"], order=["event_id"],
        out_col="roll_med",
    )
    return (
        out.df.filter(F.col("roll_med").isNotNull())
        .select("event_id", "user_id", "roll_med")
    )


@query(
    "frollapply_corr",
    f"""
    WITH w AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             {sql_round("corr(l_extendedprice, l_quantity) OVER roll", 4)} AS c,
             COUNT(*) OVER roll AS wn,
             MIN(l_quantity) OVER roll AS qlo,
             MAX(l_quantity) OVER roll AS qhi
      FROM lineitem
      WHERE l_suppkey <= 10
      WINDOW roll AS (
        PARTITION BY l_suppkey
        ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_win,
           {sql_dsum("c")} AS sum_corr
    FROM w WHERE wn >= 5 AND qlo < qhi
    GROUP BY l_suppkey
    """,
)
def q_frollapply_corr(spark, sf_dir):
    """frollapply by.column=FALSE (reference R/frollapply.R:128): FUN
    receives the whole n-row window sub-table — here a rolling Pearson
    correlation of two columns, which no single-column roll can express.
    Zero-variance windows are excluded (corr undefined; engines disagree
    on NaN vs NULL). Compared as per-supplier sums of 4dp-rounded
    values: portable across summation orders.

    Order note: (orderkey, linenumber) is not unique in this synthetic
    data; appending the two aggregated columns makes frame contents
    deterministic (ties identical in every aggregated value)."""
    from .operators.window import frollapply_multi

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].query(
        i=F.col("l_suppkey") <= 10,
        j=["l_suppkey", "l_orderkey", "l_linenumber", "l_quantity",
           "l_extendedprice"],
    )
    order = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    out = frollapply_multi(
        li, ["l_extendedprice", "l_quantity"], 5,
        lambda d: d["l_extendedprice"].corr(d["l_quantity"]),
        by=["l_suppkey"], order=order, out_col="c",
    )
    w = Window.partitionBy("l_suppkey").orderBy(*order).rowsBetween(-4, 0)
    guarded = out.df.withColumns({
        "qlo": F.min("l_quantity").over(w),
        "qhi": F.max("l_quantity").over(w),
    }).filter(F.col("c").isNotNull() & (F.col("qlo") < F.col("qhi")))
    return (
        guarded.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_win"),
            dsum(F.round("c", 4)).alias("sum_corr"),
        )
    )


@query("frollapply_chunked", None)
def q_frollapply_chunked(spark, sf_dir):
    """frollapply_median through the halo chunk-stitch (n_chunks=4):
    the collect_list frame evaluates over (key, chunk) partitions with
    halo n-1 and the Arrow pandas_udf applies after the frame —
    identical output, same oracle as frollapply_median verbatim."""
    import numpy as np

    from .operators.window import frollapply

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(j=["event_id", "user_id", "value"])
    out = frollapply(
        ev, "value", 5, np.median, by=["user_id"], order=["event_id"],
        out_col="roll_med", n_chunks=4,
    )
    return (
        out.df.filter(F.col("roll_med").isNotNull())
        .select("event_id", "user_id", "roll_med")
    )


from .queries import ORACLE as _ORACLE  # noqa: E402

_ORACLE["frollapply_chunked"] = _ORACLE["frollapply_median"]

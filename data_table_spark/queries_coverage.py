"""Coverage queries for the remaining SURVEY §2 rows: mutation (:=),
adaptive rolling windows, transpose, cbindlist, per-group tail,
row-wise constructor.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import load_tables
from .exact import dec, dsum, sql_dec, sql_double, sql_dsum, sql_round
from .queries import query


@query(
    "mutation_let",
    """
    SELECT o_orderkey,
           CAST(o_totalprice * 0.9 AS DOUBLE) AS discounted,
           CASE WHEN o_orderstatus = 'F' THEN 'closed'
                ELSE o_orderpriority END AS prio2
    FROM orders
    WHERE NOT (o_totalprice < 1000)
    """,
)
def q_mutation_let(spark, sf_dir):
    """:= mutation chain (reference src/assign.c:355, rebind semantics
    SURVEY §2.9): add a computed column, sub-assign on i rows, delete
    rows, drop a column — all one narrow projection+filter, no
    shuffle."""
    t = load_tables(spark, sf_dir)
    out = (
        t["orders"]
        .let(discounted=F.col("o_totalprice") * 0.9,
             prio2=F.col("o_orderpriority"))
        .set_where(F.col("o_orderstatus") == "F", prio2=F.lit("closed"))
        .delete_rows(F.col("o_totalprice") < 1000)
    )
    return out.query(
        j={
            "o_orderkey": F.col("o_orderkey"),
            "discounted": F.col("discounted").cast("double"),
            "prio2": F.col("prio2"),
        }
    ).df


@query(
    "let_by_group",
    f"""
    SELECT l_orderkey, l_linenumber, l_quantity,
           {sql_double(
               f"SUM({sql_dec('l_quantity')}) OVER (PARTITION BY l_orderkey)"
           )} AS grp_qty,
           COUNT(*) OVER (PARTITION BY l_orderkey) AS n_items,
           CAST(MAX(l_extendedprice)
                  OVER (PARTITION BY l_orderkey) AS DOUBLE) AS max_price
    FROM lineitem
    """,
)
def q_let_by_group(spark, sf_dir):
    """Grouped := (``DT[, c := sum(v), by=g]``, reference
    src/dogroups.c:61 assign branch): per-group aggregates attached to
    EVERY row, all rows kept. One unordered-window pass — a single hash
    exchange on the group key, no join-back, no collect."""
    t = load_tables(spark, sf_dir)
    out = t["lineitem"].let_by(
        "l_orderkey",
        grp_qty=F.sum(dec("l_quantity")),
        n_items=F.count(F.lit(1)),
        max_price=F.max("l_extendedprice"),
    ).let(
        grp_qty=F.col("grp_qty").cast("double"),
        max_price=F.col("max_price").cast("double"),
    )
    return out.query(
        j=["l_orderkey", "l_linenumber", "l_quantity",
           "grp_qty", "n_items", "max_price"]
    ).df


@query(
    "froll_adaptive_sum",
    f"""
    WITH b AS (
      SELECT event_id, user_id, value,
             1 + CAST(event_id % 5 AS INT) AS nn,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS pos,
             SUM({sql_dec("value")}) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      FROM events
    )
    SELECT a.event_id, a.user_id,
           CASE WHEN a.pos >= a.nn
                THEN {sql_double("a.cs - COALESCE(p.cs, 0)")} END
             AS roll_sum
    FROM b a LEFT JOIN b p
      ON a.user_id = p.user_id AND a.pos - a.nn = p.pos
    """,
)
def q_froll_adaptive(spark, sf_dir):
    """Adaptive rolling sum (reference src/frolladaptive.c): per-row
    window width n_i = 1 + event_id % 5, via the cumsum-difference
    self-join (O(rows); Spark windows can't express per-row frames)."""
    from .operators.window import frolladaptive

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value": F.col("value"),
            "nn": (1 + F.col("event_id") % 5).cast("int"),
        }
    )
    out = frolladaptive(
        ev, "value", "nn", by=["user_id"], order=["event_id"],
        out_col="roll_sum",
    )
    return out.df.select("event_id", "user_id", "roll_sum")


@query(
    "froll_adaptive_minmax",
    """
    WITH b AS (
      SELECT event_id, user_id, value,
             1 + CAST(event_id % 7 AS INT) AS nn,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS pos
      FROM events
    )
    SELECT a.event_id, a.user_id,
           CASE WHEN a.pos >= a.nn THEN (
             SELECT MAX(b2.value) FROM b b2
             WHERE b2.user_id = a.user_id
               AND b2.pos BETWEEN a.pos - a.nn + 1 AND a.pos) END
             AS roll_max,
           CASE WHEN a.pos >= a.nn THEN (
             SELECT MIN(b2.value) FROM b b2
             WHERE b2.user_id = a.user_id
               AND b2.pos BETWEEN a.pos - a.nn + 1 AND a.pos) END
             AS roll_min
    FROM b a
    """,
)
def q_froll_adaptive_minmax(spark, sf_dir):
    """Adaptive rolling max+min (reference src/frolladaptive.c): per-row
    width n_i = 1 + event_id % 7 via the sparse-table scheme (log2(W)
    shared-sort window frames + one co-partitioned self-join) — extrema
    have no cumsum-difference identity. Oracle: correlated range
    subquery (exact, any width)."""
    from .operators.window import frolladaptive

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value": F.col("value"),
            "nn": (1 + F.col("event_id") % 7).cast("int"),
        }
    )
    out = frolladaptive(
        ev, "value", "nn", by=["user_id"], order=["event_id"],
        out_col="roll_max", fun="max",
    )
    out = frolladaptive(
        out, "value", "nn", by=["user_id"], order=["event_id"],
        out_col="roll_min", fun="min",
    )
    return out.df.select("event_id", "user_id", "roll_max", "roll_min")


@query(
    "froll_adaptive_median",
    """
    WITH b AS (
      SELECT event_id, user_id, value,
             1 + CAST(event_id % 5 AS INT) AS nn,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS pos
      FROM events
    )
    SELECT a.event_id, a.user_id,
           CASE WHEN a.pos >= a.nn THEN (
             SELECT MEDIAN(b2.value) FROM b b2
             WHERE b2.user_id = a.user_id
               AND b2.pos BETWEEN a.pos - a.nn + 1 AND a.pos) END
             AS roll_med
    FROM b a
    """,
)
def q_froll_adaptive_median(spark, sf_dir):
    """Adaptive rolling median (reference src/frolladaptive.c): median is
    not a semigroup, so the operator expands each target row into its
    n_i source positions (explode + equi-join + exact F.median) —
    O(rows·W̄) spread across the cluster, the same work the reference's
    per-window quickselect pays single-node."""
    from .operators.window import frolladaptive

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value": F.col("value"),
            "nn": (1 + F.col("event_id") % 5).cast("int"),
        }
    )
    out = frolladaptive(
        ev, "value", "nn", by=["user_id"], order=["event_id"],
        out_col="roll_med", fun="median",
    )
    return out.df.select("event_id", "user_id", "roll_med")


# exact window sums of the froll_adaptive_var oracle, cast back as Spark does
_S1 = sql_double("SUM(b2.d)")
_S2 = sql_double("SUM(b2.d * b2.d)")


@query(
    "froll_adaptive_var",
    f"""
    WITH b AS (
      SELECT event_id, user_id,
             {sql_dec("value")} AS d,
             1 + CAST(event_id % 6 AS INT) AS nn,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS pos
      FROM events
    )
    SELECT a.event_id, a.user_id,
      CASE WHEN LEAST(a.nn, a.pos) >= 2 THEN (
        SELECT GREATEST(({_S2}
                 - {_S1} * {_S1}
                   / COUNT(*)) / (COUNT(*) - 1), 0.0)
        FROM b b2
        WHERE b2.user_id = a.user_id
          AND b2.pos BETWEEN a.pos - LEAST(a.nn, a.pos) + 1 AND a.pos)
      END AS roll_var,
      CASE WHEN LEAST(a.nn, a.pos) >= 2 THEN (
        SELECT SQRT(GREATEST(({_S2}
                 - {_S1} * {_S1}
                   / COUNT(*)) / (COUNT(*) - 1), 0.0))
        FROM b b2
        WHERE b2.user_id = a.user_id
          AND b2.pos BETWEEN a.pos - LEAST(a.nn, a.pos) + 1 AND a.pos)
      END AS roll_sd
    FROM b a
    """,
)
def q_froll_adaptive_var(spark, sf_dir):
    """Adaptive rolling var+sd with partial= trimming (reference
    frolladaptivevarExact, froll.Rraw 6001.72x/.82x — round-14 port):
    one extra running DECIMAL sum of squares through the cumsum-
    difference self-join; var = (S2 - S1^2/m)/(m-1) computed in double
    from the two EXACT decimal sums, clamped at 0. The oracle mirrors
    the FORMULA, not just the value: both engines cast the same exact
    DECIMAL sums to double and run identical FP ops, so the compare is
    bit-exact — no rounding tolerance hides a real divergence.
    partial=True trims n_i to the rows available (6006.902), so every
    width>=2 window produces a value."""
    from .operators.window import frolladaptive

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value": F.col("value"),
            "nn": (1 + F.col("event_id") % 6).cast("int"),
        }
    )
    out = frolladaptive(
        ev, "value", "nn", by=["user_id"], order=["event_id"],
        out_col="roll_var", fun="var", partial=True,
    )
    # sd IS sqrt(var) in both engines (fun="sd" sqrt-wraps the same
    # expression), so derive it from the computed column — one window
    # pass + one self-join instead of two of each
    return out.df.select(
        "event_id", "user_id", "roll_var",
        F.sqrt(F.col("roll_var")).alias("roll_sd"),
    )


@query(
    "frollapply_adaptive",
    """
    WITH b AS (
      SELECT event_id, user_id, value,
             1 + CAST(event_id % 6 AS INT) AS nn,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS pos
      FROM events
    )
    SELECT a.event_id, a.user_id,
           CASE WHEN a.pos >= a.nn THEN (
             SELECT MAX(b2.value) - MIN(b2.value) FROM b b2
             WHERE b2.user_id = a.user_id
               AND b2.pos BETWEEN a.pos - a.nn + 1 AND a.pos) END
             AS roll_range
    FROM b a
    """,
)
def q_frollapply_adaptive(spark, sf_dir):
    """Adaptive frollapply (reference src/frolladaptive.c composed with
    R/frollapply.R:128 — VERDICT r5 item 5): an arbitrary Python
    function (np.ptp, the max-min range: exact element arithmetic, no
    summation-order drift) over per-row window widths n_i = 1 +
    event_id % 6. Explode-expansion + one Arrow-batched pandas_udf;
    oracle is the correlated range subquery."""
    import numpy as np

    from .operators.window import frollapply_adaptive

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value": F.col("value"),
            "nn": (1 + F.col("event_id") % 6).cast("int"),
        }
    )
    out = frollapply_adaptive(
        ev, "value", "nn", np.ptp, by=["user_id"], order=["event_id"],
        out_col="roll_range",
    )
    return out.df.select("event_id", "user_id", "roll_range")


@query(
    "transpose_small",
    """
    WITH a AS (
      SELECT r_name, CAST(COUNT(*) AS VARCHAR) AS n
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
    ),
    l AS (SELECT list(r_name ORDER BY r_name) AS rn,
                 list(n ORDER BY r_name) AS nn FROM a)
    SELECT 'r_name' AS column, rn[1] AS V1, rn[2] AS V2, rn[3] AS V3,
           rn[4] AS V4, rn[5] AS V5 FROM l
    UNION ALL
    SELECT 'n', nn[1], nn[2], nn[3], nn[4], nn[5] FROM l
    """,
)
def q_transpose(spark, sf_dir):
    """transpose (reference src/transpose.c:5): rows<->cols of a small
    aggregate — inherently driver-side (result schema depends on data);
    restricted to small tables like the reference's use."""
    from .operators.joins import join
    from .operators.reshape import transpose

    t = load_tables(spark, sf_dir)
    a = join(
        t["nation"], t["region"],
        on={"n_regionkey": "r_regionkey"}, how="inner",
    ).query(
        j={"n": F.count(F.lit(1)).cast("string")}, by=["r_name"],
    )
    ordered = a.df.orderBy("r_name")
    from .core import DT

    return transpose(DT(ordered), spark).df


_TM_N = 20
_SQL_TRANSPOSE_MEDIUM = (
    """
    WITH a AS (
      SELECT source,
             CAST(COUNT(*) AS VARCHAR) AS n,
             CAST(SUM(n_chars) AS VARCHAR) AS chars
      FROM documents GROUP BY source
    ),
    l AS (SELECT list(source ORDER BY source) AS s,
                 list(n ORDER BY source) AS nn,
                 list(chars ORDER BY source) AS cc FROM a)
    SELECT 'source' AS column, """
    + ", ".join(f"s[{i}] AS V{i}" for i in range(1, _TM_N + 1))
    + " FROM l UNION ALL SELECT 'n', "
    + ", ".join(f"nn[{i}]" for i in range(1, _TM_N + 1))
    + " FROM l UNION ALL SELECT 'chars', "
    + ", ".join(f"cc[{i}]" for i in range(1, _TM_N + 1))
    + " FROM l"
)


@query("transpose_medium", _SQL_TRANSPOSE_MEDIUM)
def q_transpose_medium(spark, sf_dir):
    """Distributed transpose (reference src/transpose.c:5 semantics,
    group+pivot form — VERDICT r5 item 4): rows<->cols of a per-source
    aggregate with NO driver collect of cell data. The output-column
    order comes from ranking the unique `source` key (the rank map is
    the only single-task step and carries just the key column); the
    cells melt row-locally and pivot in one keyed shuffle."""
    from .core import DT
    from .operators.reshape import transpose_distributed

    t = load_tables(spark, sf_dir)
    a = t["documents"].query(
        j={
            "n": F.count(F.lit(1)).cast("string"),
            "chars": F.sum("n_chars").cast("string"),
        },
        by=["source"],
    )
    return transpose_distributed(DT(a.df), order=["source"]).df


@query(
    "cbindlist_zip",
    """
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
               FROM customer GROUP BY 1),
    s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
          FROM supplier GROUP BY 1)
    SELECT c.nk, c.n_cust, s.n_supp FROM c JOIN s ON c.nk = s.nk
    """,
)
def q_cbindlist(spark, sf_dir):
    """cbindlist (reference R/mergelist.R:11): column-bind via shared key
    (positional bind has no Spark analog — SURVEY §2.8 note)."""
    from .operators.reshape import cbindlist

    t = load_tables(spark, sf_dir)
    c = t["customer"].query(
        j={"n_cust": F.count(F.lit(1))}, by={"nk": F.col("c_nationkey")}
    )
    s = t["supplier"].query(
        j={"n_supp": F.count(F.lit(1))}, by={"nk": F.col("s_nationkey")}
    )
    return cbindlist([c, s], on=["nk"]).df


@query(
    "gtail_per_group",
    """
    WITH r AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id, value FROM r WHERE rn <= 2
    """,
)
def q_gtail(spark, sf_dir):
    """tail(.SD, 2) per group (reference R/last.R; gtail) — reverse-order
    row_number window (event_id is unique per user: deterministic)."""
    from .operators.grouping import gtail

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(j=["user_id", "event_id", "value"])
    out = gtail(ev, 2, by=["user_id"], order=["event_id"])
    return out.df.select("user_id", "event_id", "value")


@query(
    "rowwise_literal",
    """
    WITH m(rk, tag) AS (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'),
                               (3, 'delta'), (4, 'epsilon'))
    SELECT r.r_regionkey, r.r_name, m.tag
    FROM region r JOIN m ON r.r_regionkey = m.rk
    """,
)
def q_rowwise(spark, sf_dir):
    """rowwiseDT literal constructor (reference R/rowwiseDT.R:1-31)
    joined against a table — createDataFrame + broadcast join."""
    from .operators.reshape import rowwiseDT

    t = load_tables(spark, sf_dir)
    m = rowwiseDT(
        spark, ["rk", "tag"],
        (0, "alpha"), (1, "beta"), (2, "gamma"),
        (3, "delta"), (4, "epsilon"),
    )
    return (
        t["region"].df.join(
            F.broadcast(m.df), F.col("r_regionkey") == F.col("rk")
        )
        .select("r_regionkey", "r_name", "tag")
    )


@query(
    "time_parts",
    """
    SELECT event_id,
           CAST(hour(ts) AS INT) AS hr,
           CAST(minute(ts) AS INT) AS mi,
           CAST(second(ts) AS INT) AS sec,
           CAST(epoch_us(ts) % 86400000000 AS BIGINT) AS us_of_day,
           CAST(hour(ts)*3600 + minute(ts)*60 + second(ts) AS INT)
             AS itime,
           strftime(ts, '%H:%M:%S') AS itime_fmt,
           CAST((hour(ts)*3600 + minute(ts)*60 + second(ts) + 3600)
                % 86400 AS INT) AS itime_plus1h,
           CAST(hour(ts)*3600 AS INT) AS itime_hour_floor
    FROM events
    """,
)
def q_time_parts(spark, sf_dir):
    """ITime surface (reference R/IDateTime.R:175-334): hour/minute/
    second + exact microsecond-of-day, plus the ITime class ops
    (as.ITime seconds-of-day, wrapping +1h arithmetic, format.ITime,
    round to hours). Session TZ is UTC on both engines; us_of_day
    derives from the exact floored micros (SKILL gotcha: ts_us is
    bit-equal to DuckDB's epoch_us)."""
    from .functions import as_itime, itime_add, itime_format, round_itime

    t = load_tables(spark, sf_dir)
    return t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "hr": F.hour("ts").cast("int"),
            "mi": F.minute("ts").cast("int"),
            "sec": F.second("ts").cast("int"),
            "us_of_day": (F.col("ts_us") % F.lit(86400000000)).cast("long"),
            "itime": as_itime(F.col("ts")),
            "itime_fmt": itime_format(as_itime(F.col("ts"))),
            "itime_plus1h": itime_add(as_itime(F.col("ts")), 3600),
            "itime_hour_floor": round_itime(as_itime(F.col("ts")), "hours"),
        }
    ).df


@query(
    "salted_skew_agg",
    f"""
    SELECT l_returnflag,
           {sql_dsum("l_quantity")} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation over a deliberately skewed key
    (l_returnflag: 3 values over the whole table). Result must equal the
    plain GROUP BY — the salt only changes the physical split."""
    from .operators.grouping import salted_agg

    t = load_tables(spark, sf_dir)
    out = salted_agg(
        t["lineitem"],
        by=["l_returnflag"],
        sums={"sum_qty": F.sum(dec("l_quantity"))},
        count_name="n",
    )
    return out.df.withColumn("sum_qty", F.col("sum_qty").cast("double"))


@query(
    "sdcols_agg",
    f"""
    SELECT l_returnflag,
           {sql_dsum("l_quantity")} / COUNT(*) AS l_quantity,
           {sql_dsum("l_discount")} / COUNT(*) AS l_discount,
           {sql_dsum("l_tax")} / COUNT(*) AS l_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sdcols(spark, sf_dir):
    """lapply(.SD, mean) with .SDcols (reference GForce-optimized form,
    man/datatable-optimize.Rd) — one partial-aggregated pass over the
    selected columns. Plain double avg: single division per group in
    both engines (DuckDB AVG = sum/count in double too); values are
    parquet-exact so the hash matches."""
    t = load_tables(spark, sf_dir)
    sdcols = ["l_quantity", "l_discount", "l_tax"]
    return t["lineitem"].query(
        j={c: dsum(c) / F.count(F.lit(1)) for c in sdcols},
        by=["l_returnflag"],
    ).df


@query(
    "composite_pipeline",
    f"""
    WITH filtered AS (
      SELECT l_orderkey, l_quantity, l_extendedprice, l_shipdate
      FROM lineitem WHERE l_quantity > 5
    ),
    joined AS (
      SELECT f.*, o.o_orderpriority, o.o_custkey
      FROM filtered f JOIN orders o ON f.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey
        ORDER BY l_extendedprice DESC, l_orderkey, l_shipdate
      ) AS rk
      FROM joined
    ),
    top3 AS (SELECT * FROM ranked WHERE rk <= 3)
    SELECT o_custkey,
      {sql_double(
          f"SUM(CASE WHEN o_orderpriority = '1-URGENT'"
          f" THEN {sql_dec('l_quantity')} ELSE 0 END)"
      )} AS qty_urgent,
      {sql_double(
          f"SUM(CASE WHEN o_orderpriority <> '1-URGENT'"
          f" THEN {sql_dec('l_quantity')} ELSE 0 END)"
      )} AS qty_other,
      COUNT(*) AS n
    FROM top3 GROUP BY o_custkey
    """,
)
def q_composite(spark, sf_dir):
    """Kitchen-sink composition through the DT surface: filter (i) ->
    lookup join -> per-group top-k window -> conditional pivot-style
    aggregate. One plan: pushdown filter scan, broadcast hash join,
    one window shuffle, one agg shuffle."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    li = t["lineitem"].query(
        i=F.col("l_quantity") > 5,
        j=["l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"],
    )
    orders = t["orders"].query(
        i=F.col("o_orderstatus") == "F",
        j=["o_orderkey", "o_orderpriority", "o_custkey"],
    )
    from .operators.joins import join as dt_join

    j = dt_join(li, orders, on={"l_orderkey": "o_orderkey"}, how="inner")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_shipdate")
    )
    top3 = (
        j.df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )
    urgent = F.col("o_orderpriority") == "1-URGENT"
    dq = dec("l_quantity")
    return (
        top3.groupBy("o_custkey")
        .agg(
            F.sum(F.when(urgent, dq).otherwise(dec(F.lit(0))))
            .cast("double").alias("qty_urgent"),
            F.sum(F.when(~urgent, dq).otherwise(dec(F.lit(0))))
            .cast("double").alias("qty_other"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "sessionize_batch",
    """
    WITH l AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
               AS prev
      FROM events
    ),
    f AS (SELECT user_id, event_id, us,
                 CASE WHEN prev IS NULL OR us - prev >= 300000000
                      THEN 1 ELSE 0 END AS brk
          FROM l)
    SELECT user_id, event_id,
           CAST(SUM(brk) OVER (PARTITION BY user_id
                               ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS session_id
    FROM f
    """,
)
def q_sessionize_batch(spark, sf_dir):
    """Batch sessionization operator (gaps-and-islands, 5-minute gap per
    user) — same semantics as the streaming session_window, as a plain
    DT window operator."""
    from .operators.window import sessionize

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(j=["user_id", "event_id", "ts_us"])
    out = sessionize(
        ev, "ts_us", 300_000_000, by=["user_id"],
        order=["ts_us", "event_id"],
    )
    return out.df.select("user_id", "event_id", "session_id")


@query(
    "quantiles_by",
    f"""
    SELECT l_returnflag,
           {sql_round("quantile_cont(l_quantity, 0.25)", 6)} AS q25,
           {sql_round("quantile_cont(l_quantity, 0.50)", 6)} AS q50,
           {sql_round("quantile_cont(l_quantity, 0.75)", 6)} AS q75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_quantiles(spark, sf_dir):
    """Grouped quantiles (data.table quantile-inside-j; GForce
    gquantile): exact linear-interpolated percentiles, identical
    definition in both engines (type-7), rounded to 6dp to absorb
    float ordering."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].query(
        j={
            "q25": F.round(F.percentile("l_quantity", F.lit(0.25)), 6),
            "q50": F.round(F.percentile("l_quantity", F.lit(0.50)), 6),
            "q75": F.round(F.percentile("l_quantity", F.lit(0.75)), 6),
        },
        by=["l_returnflag"],
    ).df


@query(
    "cogroup_udtf",
    f"""
    WITH o AS (SELECT o_custkey, COUNT(*) AS n_orders,
                      {sql_dsum("o_totalprice")} AS total_spend
               FROM orders GROUP BY o_custkey)
    SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
           COALESCE(o.n_orders, 0) AS n_orders,
           CAST(COALESCE(o.total_spend, 0.0) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN o ON c.c_custkey = o.o_custkey
    """,
)
def q_cogroup(spark, sf_dir):
    """Cogrouped per-key map: for each customer key the function sees
    the customer row AND all their orders and emits a custom summary
    row — arbitrary two-table per-key logic (the oracle is the
    equivalent relational join+agg). Decimal-exact spend via Python
    Decimal sum (exact, hence order-independent), each addend rounded
    as exact.dec rounds it: HALF_UP on the shortest repr.

    Runs on the Arrow twin (`cogroup().applyInArrow`): the measured
    decomposition showed the applyInPandas cogroup machinery alone
    (per-key Arrow→pandas conversion of BOTH sides + per-key pandas
    result serialization, ~15k keys at sf0.1) cost 20.3s of the 25.9s
    query, while the identical per-key logic on pyarrow Tables runs in
    3.8s — the guide-§4 boundary cost, not the fn. The pandas cogroup
    surface stays exercised by `cogroup_apply` (unit tests) and the
    pandas dogroups path by `dogroups_udtf`."""
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa

    from .operators.grouping import cogroup_apply_arrow

    t = load_tables(spark, sf_dir)
    cust = t["customer"].query(j=["c_custkey", "c_mktsegment"])
    orders = t["orders"].query(j=["o_custkey", "o_totalprice"])
    cust = cust.setnames({"c_custkey": "custkey"})
    orders = orders.setnames({"o_custkey": "custkey"})

    empty = pa.table(
        {
            "custkey": pa.array([], pa.int64()),
            "segment": pa.array([], pa.string()),
            "n_orders": pa.array([], pa.int64()),
            "total_spend": pa.array([], pa.float64()),
        }
    )

    def fn(key, ct, ot):
        if ct.num_rows == 0:
            return empty
        spend = sum(
            (
                Decimal(repr(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
                for v in ot.column("o_totalprice").to_pylist()
            ),
            Decimal(0),
        )
        return pa.table(
            {
                "custkey": pa.array([ct.column("custkey")[0].as_py()],
                                    pa.int64()),
                "segment": pa.array([ct.column("c_mktsegment")[0].as_py()],
                                    pa.string()),
                "n_orders": pa.array([ot.num_rows], pa.int64()),
                "total_spend": pa.array([float(spend)], pa.float64()),
            }
        )

    out = cogroup_apply_arrow(
        cust, orders, by=["custkey"], fn=fn,
        schema="custkey bigint, segment string, n_orders bigint,"
        " total_spend double",
    )
    return out.df


@query(
    "setindex_bucketed",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice")} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_setindex_bucketed(spark, sf_dir):
    """Physical secondary index (reference R/setkey.R:11-19): persist
    orders AND customer bucketed+sorted on the custkey via
    setindex_physical, then join on the index columns — both sides
    read pre-hashed buckets, so the join runs with ZERO exchanges
    (asserted by test_setindex_bucketed_elides_exchange; the only
    shuffle left in this plan is the final group-by). At 100 TB the
    write is a one-time indexing job and every later query reuses the
    buckets; THIS gate query performs write+read in one call to stay
    self-contained, so its wall time includes the indexing write.
    Table names and paths carry the Spark applicationId so concurrent
    gate sessions (pytest + check_correctness, or two SFs) never race
    on shared catalog entries or part files."""
    import os

    from .core import session_scratch_dir
    from .sources import setindex_physical

    base = session_scratch_dir(spark, "bucketed")
    tag = os.path.basename(base)
    t = load_tables(spark, sf_dir)
    orders = t["orders"].query(j=["o_orderkey", "o_custkey", "o_totalprice"])
    cust = t["customer"].query(j=["c_custkey", "c_mktsegment"])
    obk = setindex_physical(
        orders, spark, f"dts_orders_bk_{tag}", "o_custkey", n_buckets=8,
        path=f"{base}/orders_bk",
    )
    cbk = setindex_physical(
        cust, spark, f"dts_customer_bk_{tag}", "c_custkey", n_buckets=8,
        path=f"{base}/customer_bk",
    )
    joined = obk.df.join(
        cbk.df, obk.df["o_custkey"] == cbk.df["c_custkey"], "inner"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


@query(
    "na_omit_cols",
    """
    SELECT event_id,
           CASE WHEN value < 0.2 THEN NULL ELSE value END AS v2,
           event_type
    FROM events
    WHERE NOT (value < 0.2)
    """,
)
def q_na_omit_cols(spark, sf_dir):
    """na.omit with cols= (reference R/data.table.R:2640-2674): drop
    rows that are NA in the NAMED columns only — other columns may
    keep their NAs. Nulls are synthesized (the testdata carries none);
    the filter is a narrow scan predicate, fully pushed down."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].let(
        v2=F.when(F.col("value") < 0.2, F.lit(None)).otherwise(
            F.col("value")
        )
    )
    out = ev.na_omit(cols=["v2"])
    return out.query(j=["event_id", "v2", "event_type"]).df


@query(
    "fdistinct_last",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey DESC) = 1
    """,
)
def q_fdistinct_last(spark, sf_dir):
    """fdistinct(mult="last") (reference R/mergelist.R:50): one row per
    key keeping the LAST row's payload in declared order — per-key
    window rank, one shuffle on the key, no global ordering."""
    from .operators.grouping import fdistinct

    t = load_tables(spark, sf_dir)
    orders = t["orders"].query(
        j=["o_custkey", "o_orderkey", "o_totalprice"]
    )
    out = fdistinct(orders, on="o_custkey", mult="last",
                    order=["o_orderkey"])
    return out.df


@query(
    "which_rows",
    """
    SELECT which FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY n_nationkey) AS which,
               n_regionkey
        FROM nation) t
    WHERE n_regionkey = 2
    """,
)
def q_which_rows(spark, sf_dir):
    """DT[i, which=TRUE] (reference R/data.table.R:617-619): 1-based
    global row positions of matching rows. Global positions need a
    total order — the op documents its single-reducer cost and is
    meant for small/driver-bound outputs (here: the 25-row nation
    dim)."""
    from .core import DT

    t = load_tables(spark, sf_dir)
    nation = DT(t["nation"].df, order_by=["n_nationkey"])
    return nation.which(F.col("n_regionkey") == 2)


@query(
    "chmatch_rank",
    """
    SELECT doc_id,
           CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'fr' THEN 3
           END AS lang_pos
    FROM documents
    """,
)
def q_chmatch_rank(spark, sf_dir):
    """chmatch (reference src/chmatch.c:154): 1-based index of each
    value's first match in a lookup vector, NULL when absent (zh/es
    here) — compiled to a when-chain, pure codegen, no join."""
    from .functions import chmatch

    t = load_tables(spark, sf_dir)
    return t["documents"].df.select(
        "doc_id", chmatch("lang", ["en", "de", "fr"]).alias("lang_pos")
    )


@query(
    "mergelist_fold",
    """
    SELECT n.n_nationkey, n.n_regionkey, n.n_name,
           r.r_name AS r_name, c.n_cust
    FROM nation n
    LEFT JOIN (SELECT r_regionkey AS n_regionkey, r_name FROM region) r
      USING (n_regionkey)
    LEFT JOIN (SELECT c_nationkey AS n_nationkey,
                      COUNT(*) AS n_cust
               FROM customer GROUP BY 1) c
      USING (n_nationkey)
    """,
)
def q_mergelist_fold(spark, sf_dir):
    """mergelist n-way fold (reference R/mergelist.R:84-259,347):
    nation <- region <- per-nation customer counts, natural-key left
    joins with mult="error" asserting key uniqueness per fold step
    (one extra aggregate job per step, the reference's cardinality
    guard). Both right sides are dims — Catalyst broadcasts them."""
    from .core import DT
    from .operators.joins import mergelist

    t = load_tables(spark, sf_dir)
    nat = t["nation"]
    # keyed right sides: mergelist derives per-step join columns from
    # the RHS key when on= is omitted (reference mergepair on=key(rhs)
    # for how="left"; R/mergelist.R:150-156)
    reg = DT(t["region"].df.select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    ), key=["n_regionkey"])
    cust = DT(
        t["customer"].df.groupBy(
            F.col("c_nationkey").alias("n_nationkey")
        ).agg(F.count(F.lit(1)).alias("n_cust")),
        key=["n_nationkey"],
    )
    out = mergelist([nat, reg, cust], how="left", mult="error")
    return out.df.select(
        "n_nationkey", "n_regionkey", "n_name", "r_name", "n_cust"
    )


@query(
    "mergelist_mixed",
    """
    SELECT c.n_nationkey, nr.n_regionkey, nr.n_name, nr.r_name, c.n_cust
    FROM (SELECT c_nationkey AS n_nationkey, COUNT(*) AS n_cust
          FROM customer GROUP BY 1) c
    LEFT JOIN (SELECT n.n_regionkey, n.n_nationkey, n.n_name, r.r_name
               FROM nation n
               JOIN region r ON n.n_regionkey = r.r_regionkey) nr
      USING (n_nationkey)
    """,
)
def q_mergelist_mixed(spark, sf_dir):
    """mergelist with PER-STEP how/on lists and cols= payload selection
    (reference R/mergelist.R:264-352; mergelist.Rraw 105.*, 103.*):
    nation inner-joins region, then the chain right-joins onto per-
    nation customer counts — the reference's right-outer use case
    (Rraw 105.11-12). cols= keeps only the named payload per table.
    Both right sides are dims (broadcast); the right join baselines on
    the aggregated counts — one shuffle for the groupBy, dims
    broadcast by AQE stats."""
    from .core import DT
    from .operators.joins import mergelist

    t = load_tables(spark, sf_dir)
    nat = DT(t["nation"].df.select("n_nationkey", "n_regionkey", "n_name"))
    reg = DT(t["region"].df.select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    ))
    cust = DT(
        t["customer"].df.groupBy(
            F.col("c_nationkey").alias("n_nationkey")
        ).agg(F.count(F.lit(1)).alias("n_cust"))
    )
    out = mergelist(
        [nat, reg, cust],
        on=[["n_regionkey"], ["n_nationkey"]],
        how=["inner", "right"],
        mult="all",
        cols=[["n_nationkey", "n_name"], ["r_name"], None],
    )
    return out.df


@query(
    "fsetequal_check",
    "SELECT TRUE AS eq_same, FALSE AS eq_filtered",
)
def q_fsetequal_check(spark, sf_dir):
    """fsetequal (reference R/setops.R:98): multiset equality via
    exceptAll both ways. A table equals its re-shuffled self; dropping
    one priority class breaks equality. Driver-scalar by nature (the
    reference returns a logical) — each check short-circuits on the
    first differing row (limit(1))."""
    from .core import DT
    from .operators.setops import fsetequal

    t = load_tables(spark, sf_dir)
    x = DT(t["orders"].df.select("o_orderpriority", "o_orderstatus"))
    x_shuffled = DT(x.df.repartition(7, "o_orderstatus"))
    y = DT(x.df.filter(F.col("o_orderpriority") != "1-URGENT"))
    return spark.createDataFrame(
        [(fsetequal(x, x_shuffled), fsetequal(x, y))],
        "eq_same boolean, eq_filtered boolean",
    )


@query(
    "chgroup_first_appearance",
    """
    WITH f AS (SELECT o_orderpriority AS val, MIN(o_orderkey) AS fk
               FROM orders GROUP BY 1),
         g AS (SELECT val, CAST(DENSE_RANK() OVER (ORDER BY fk) AS INT)
                      AS grp
               FROM f)
    SELECT o.o_orderkey, o.o_orderpriority, g.grp
    FROM orders o JOIN g ON o.o_orderpriority = g.val
    """,
)
def q_chgroup_first_appearance(spark, sf_dir):
    """chgroup (reference src/chmatch.c): group identical strings,
    groups numbered by each value's FIRST appearance in the declared
    order (o_orderkey). The rank window runs only over the per-value
    frame (5 rows); row data takes one agg shuffle + one broadcast
    join back."""
    from .functions import chgroup_ids

    t = load_tables(spark, sf_dir)
    return chgroup_ids(
        t["orders"].df.select("o_orderkey", "o_orderpriority"),
        "o_orderpriority", ["o_orderkey"],
    )


@query(
    "foverlaps_equal",
    """
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND FLOOR(c.c_acctbal / 100) = FLOOR(s.s_acctbal / 100)
     AND FLOOR(c.c_acctbal / 100) + 5 = FLOOR(s.s_acctbal / 100) + 5
    """,
)
def q_foverlaps_equal(spark, sf_dir):
    """foverlaps type="equal" (reference R/foverlaps.R predicate table:
    x.start = y.start AND x.end = y.end) over bucketed-balance
    intervals — both equalities become extra equi-join keys, so
    Catalyst hash-joins with zero range probes."""
    from .core import DT
    from .operators.overlaps import foverlaps

    t = load_tables(spark, sf_dir)
    cust = DT(t["customer"].df.select(
        "c_custkey", "c_nationkey",
        F.floor(F.col("c_acctbal") / 100).alias("cs"),
        (F.floor(F.col("c_acctbal") / 100) + 5).alias("ce"),
    ))
    supp = DT(t["supplier"].df.select(
        "s_suppkey", "s_nationkey",
        F.floor(F.col("s_acctbal") / 100).alias("ss"),
        (F.floor(F.col("s_acctbal") / 100) + 5).alias("se"),
    ))
    out = foverlaps(
        cust, supp,
        by_x=["c_nationkey", "cs", "ce"], by_y=["s_nationkey", "ss", "se"],
        type_="equal",
    )
    return out.query(j=["c_custkey", "s_suppkey"]).df


@query(
    "funnel_stages",
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY 1),
    t2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
           WHERE event_type = 'click' AND us > t1 GROUP BY 1),
    t3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN t2 USING (user_id)
           WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
    SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
           CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INT) AS stage
    FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    """,
)
def q_funnel_stages(spark, sf_dir):
    """Per-user funnel view -> click -> purchase: first occurrence of
    each step strictly after the previous step's timestamp, plus the
    deepest stage reached. k conditional MIN aggregates + (k-1)
    equi-joins, all keyed on user_id — one partitioning reused across
    every stage."""
    from .operators.window import funnel_stages

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(j=["user_id", "event_type", "ts_us"]).df
    return funnel_stages(ev, ["view", "click", "purchase"])


@query(
    "retention_cohorts",
    """
    WITH e AS (SELECT DISTINCT user_id AS u,
                      epoch_us(ts) // 604800000000 AS wk
               FROM events),
    c AS (SELECT u, MIN(wk) AS cohort FROM e GROUP BY 1)
    SELECT CAST(cohort AS BIGINT) AS cohort,
           CAST(wk - cohort AS BIGINT) AS wk_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM e JOIN c USING (u)
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle over fixed 7-day periods: exact
    integer epoch-microsecond bucketing (timezone-free, portable),
    cohort = first active period per user, distinct active users per
    (cohort, offset). Keyed shuffles only; triangle-sized output."""
    from .operators.window import retention_cohorts

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(j=["user_id", "ts_us"]).df
    return retention_cohorts(ev)


@query("froll_adaptive_chunked", None)
def q_froll_adaptive_chunked(spark, sf_dir):
    """froll_adaptive_sum through the running-triple carry stitch
    (n_chunks=4): position / DECIMAL cumsum / non-null count compute
    per (key, value-chunk) and stitch by the associative exclusive
    carry (operators/window.py _adaptive_running_chunked) — identical
    output, same oracle as froll_adaptive_sum verbatim."""
    from .operators.window import frolladaptive

    t = load_tables(spark, sf_dir)
    ev = t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value": F.col("value"),
            "nn": (1 + F.col("event_id") % 5).cast("int"),
        }
    )
    out = frolladaptive(
        ev, "value", "nn", by=["user_id"], order=["event_id"],
        out_col="roll_sum", n_chunks=4,
    )
    return out.df.select("event_id", "user_id", "roll_sum")


from .queries import ORACLE as _ORACLE  # noqa: E402

_ORACLE["froll_adaptive_chunked"] = _ORACLE["froll_adaptive_sum"]


@query(
    "join_coerce_int",
    """
    SELECT CAST(n_nationkey AS INT) AS nkey, n_name,
           c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    """,
)
def q_join_coerce_int(spark, sf_dir):
    """bmerge join-type coercion (reference R/bmerge.R:19 coerce_col,
    tests.Rraw 2044.60 — round-12 port): the i side joins on a DOUBLE
    column holding fraction-free values against an int x column; the
    fitsInInt32 probe (one bounded agg on the i side) coerces i to
    integer for the join AND the result returns integer (the
    reference's forgotten-L-postfix convenience). X[Y] row semantics:
    every nation row survives (nomatch=NA left join from Y); the probe
    never touches the big side, so the plan stays one broadcastable
    equi join at any scale."""
    from .operators.joins import lookup

    t = load_tables(spark, sf_dir)
    y = t["nation"].query(
        j={"nkey": F.col("n_nationkey").cast("double"),
           "n_name": F.col("n_name")}
    )
    out = lookup(t["customer"], y, on={"c_nationkey": "nkey"})
    return out.query(
        j={
            "nkey": F.col("nkey"),
            "n_name": F.col("n_name"),
            "c_custkey": F.col("c_custkey"),
            "c_acctbal": F.col("c_acctbal").cast("double"),
        }
    ).df


@query(
    "sdcols_patterns",
    """
    SELECT l_returnflag,
           CAST(MAX(l_quantity) AS DOUBLE) AS l_quantity,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS l_extendedprice,
           CAST(MAX(l_discount) AS DOUBLE) AS l_discount,
           CAST(MAX(l_tax) AS DOUBLE) AS l_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sdcols_patterns(spark, sf_dir):
    """lapply(.SD, max) with the .SDcols MINI-LANGUAGE (reference
    .SDcols=patterns(), tests.Rraw 1971 — round-12 operator): regex
    selection + a dtype predicate intersected by sd_cols, one grouped
    aggregate with map-side partials (max is order/partition-safe, so
    no decimal detour is needed)."""
    from .operators.grouping import lapply_sd, patterns, sd_cols

    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    # regex ∩ numeric-dtype predicate, reference patterns() semantics
    cols = [
        c for c in sd_cols(li, patterns("^l_(quant|extend|disc|tax)"))
        if dict(li.df.dtypes)[c] in ("double", "float")
    ]
    out = lapply_sd(li, "max", cols, by=["l_returnflag"])
    return out.query(
        j={"l_returnflag": F.col("l_returnflag"),
           **{c: F.col(c).cast("double") for c in cols}}
    ).df


@query(
    "fcase_list",
    """
    SELECT o_orderkey,
           array_to_string(
             CASE WHEN o_orderpriority = '1-URGENT' THEN [1, 10]
                  WHEN o_orderpriority = '2-HIGH'   THEN [2, 20]
                  ELSE [9] END, '|') AS tags
    FROM orders
    """,
)
def q_fcase_list(spark, sf_dir):
    """fcase with LIST outputs (reference src/fifelse.c:210 list
    branch; tests.Rraw 2127.06/.14/.57 — round-13 operator): Python
    list literals become ARRAY columns per branch, unmatched rows NULL
    (here covered by a list default). Serialized with concat_ws for
    the oracle compare — str(array) reprs differ between pandas and
    DuckDB, the VALUES are what's checked."""
    from .functions import fcase

    t = load_tables(spark, sf_dir)
    arr = fcase(
        F.col("o_orderpriority") == "1-URGENT", [1, 10],
        F.col("o_orderpriority") == "2-HIGH", [2, 20],
        default=[9],
    )
    return t["orders"].query(
        j={
            "o_orderkey": F.col("o_orderkey"),
            "tags": F.concat_ws("|", arr.cast("array<string>")),
        }
    ).df


@query(
    "frank_multi",
    """
    SELECT o_orderkey,
           CAST(RANK() OVER (
             PARTITION BY o_orderstatus
             ORDER BY o_orderpriority ASC, o_totalprice DESC
           ) AS INT) AS rnk
    FROM orders
    """,
)
def q_frank_multi(spark, sf_dir):
    """frankv(cols=, order=) MULTI-COLUMN lexicographic ranking
    (reference R/frank.R frankv cols=; tests.Rraw 2386.05 — round-13
    operator): rank by (o_orderpriority asc, o_totalprice desc) within
    o_orderstatus groups, ties=min. One Window over the by-partition —
    no extra shuffle beyond the partition exchange."""
    from .operators.window import frank

    t = load_tables(spark, sf_dir)
    out = frank(
        t["orders"], ["o_orderpriority", "o_totalprice"],
        ties="min", by=["o_orderstatus"], order=[1, -1], out_col="rnk",
    )
    return out.query(
        j={"o_orderkey": F.col("o_orderkey"),
           "rnk": F.col("rnk").cast("int")}
    ).df

"""Query registry: every implemented operator from SURVEY.md §2 exposed as
(spark, sf_dir) -> DataFrame, with a DuckDB oracle SQL string.

Conventions (see __spark_entry__.py docstring):
- double aggregates follow the exact-sum convention of exact.py: the
  Spark side calls ``dsum``/``dec`` and the ORACLE string calls
  ``sql_dsum``/``sql_dec``/``sql_double``, never a DECIMAL cast of its
  own. Addends are cast to DECIMAL(18, scale) (scale 4 unless a site says
  2 or 6), summed exactly, cast back to DOUBLE. The oracle half rounds as
  Spark does, where DuckDB 1.0.0's own casts do not: its addend cast
  scales the binary double instead of rounding Double.toString HALF_UP,
  and its back cast goes through a double once |sum| * 10^scale > 2^53;
- every computed column is aliased identically in Spark and SQL;
- ordered operators order by natural keys (never file order).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import DT, N, load_tables
from .exact import dec, dsum, sql_dec, sql_double, sql_dsum

QUERIES: dict = {}
ORACLE: dict = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


# oracle addend casts that several ORACLE strings below share
_QTY = sql_dec("l_quantity")
_XPRICE = sql_dec("l_extendedprice")
_OPRICE2 = sql_dec("o_totalprice", 2)


# --------------------------------------------------------------------------
# §2.4 grouping / GForce aggregate set
# --------------------------------------------------------------------------

@query(
    "gforce_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity")} AS sum_qty,
           {sql_dsum("l_extendedprice")} AS sum_base_price,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           CAST({sql_dsum("l_quantity")} / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_gforce_q1(spark, sf_dir):
    """TPC-H Q1-shaped grouped aggregate — the GForce hot path
    (reference src/gsumm.c:45 gforce; gsum :348, gmean :582).
    Spark plan: partial HashAggregate → exchange on group keys → final
    HashAggregate, whole-stage codegen; no Python in the loop."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    out = li.query(
        i=F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"),
        j={
            "sum_qty": dsum("l_quantity"),
            "sum_base_price": dsum("l_extendedprice"),
            "sum_disc_price": dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ),
            "avg_qty": (dsum("l_quantity") / F.count(F.lit(1))).cast("double"),
            "count_order": F.count(F.lit(1)),
        },
        by=["l_returnflag", "l_linestatus"],
    )
    return out.df


# --------------------------------------------------------------------------
# §2.2 projection / filter / predicates
# --------------------------------------------------------------------------

@query(
    "select_compute",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS net_price,
           CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DOUBLE) AS charged
    FROM lineitem
    """,
)
def q_select_compute(spark, sf_dir):
    """DT[, .(computed cols)] — j-select (reference R/data.table.R:1102,
    src/subset.c:278). Column pruning reaches the parquet scan."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].query(
        j={
            "l_orderkey": F.col("l_orderkey"),
            "l_linenumber": F.col("l_linenumber"),
            "net_price": F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "charged": F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
        }
    ).df


@query(
    "filter_scan",
    """
    SELECT * FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    """,
)
def q_filter_scan(spark, sf_dir):
    """DT[i] predicate filter (reference R/data.table.R:998-1051); the
    subset→join/auto-index rewrite (R/data.table.R:3514) is subsumed by
    Catalyst predicate pushdown into the parquet scan."""
    t = load_tables(spark, sf_dir)
    return t["orders"].query(
        i=(F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000)
    ).df


@query(
    "filter_chin",
    """
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q_filter_chin(spark, sf_dir):
    """%chin% / %in% membership (reference src/chmatch.c:154-170)."""
    from .functions import chin

    t = load_tables(spark, sf_dir)
    return t["orders"].query(
        i=chin("o_orderpriority", ["1-URGENT", "2-HIGH"]),
        j=["o_orderkey", "o_orderpriority"],
    ).df


@query(
    "filter_notin",
    """
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderstatus NOT IN ('O')
    """,
)
def q_filter_notin(spark, sf_dir):
    """%notin% (reference R/notin.R, src/negate.c:15)."""
    from .functions import notchin

    t = load_tables(spark, sf_dir)
    return t["orders"].query(
        i=notchin("o_orderstatus", ["O"]), j=["o_orderkey", "o_orderstatus"]
    ).df


@query(
    "filter_between",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
    """,
)
def q_filter_between(spark, sf_dir):
    """%between% incbounds (reference R/between.R:2, src/between.c:9)."""
    from .functions import between

    t = load_tables(spark, sf_dir)
    return t["lineitem"].query(
        i=between("l_quantity", 10, 20),
        j=["l_orderkey", "l_linenumber", "l_quantity"],
    ).df


@query(
    "filter_like",
    """
    SELECT p_partkey, p_name FROM part
    WHERE regexp_matches(p_name, 'red|blue')
    """,
)
def q_filter_like(spark, sf_dir):
    """%like% regex filter (reference R/like.R:1-24)."""
    from .functions import like

    t = load_tables(spark, sf_dir)
    return t["part"].query(i=like("p_name", "red|blue"), j=["p_partkey", "p_name"]).df


@query(
    "fifelse_fcase",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_tag,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                WHEN o_orderpriority = '2-HIGH' THEN 2
                ELSE 9 END AS prio_rank
    FROM orders
    """,
)
def q_fifelse_fcase(spark, sf_dir):
    """fifelse + fcase (reference src/fifelse.c:9,210)."""
    from .functions import fcase, fifelse

    t = load_tables(spark, sf_dir)
    return t["orders"].query(
        j={
            "o_orderkey": F.col("o_orderkey"),
            "size_tag": fifelse(F.col("o_totalprice") > 200000, F.lit("big"), F.lit("small")),
            "prio_rank": fcase(
                F.col("o_orderpriority") == "1-URGENT", F.lit(1),
                F.col("o_orderpriority") == "2-HIGH", F.lit(2),
                default=F.lit(9),
            ),
        }
    ).df


@query(
    "fcoalesce_nafill",
    """
    SELECT event_id,
           CAST(COALESCE(CASE WHEN event_type = 'purchase' THEN NULL ELSE value END, -1.0) AS DOUBLE) AS v_filled
    FROM events
    """,
)
def q_fcoalesce(spark, sf_dir):
    """fcoalesce / nafill const (reference src/coalesce.c:9,
    src/nafill.c:120). NULLs injected deterministically."""
    from .functions import fcoalesce

    t = load_tables(spark, sf_dir)
    v = F.when(F.col("event_type") == "purchase", F.lit(None).cast("double")).otherwise(F.col("value"))
    return t["events"].query(
        j={
            "event_id": F.col("event_id"),
            "v_filled": fcoalesce(v, F.lit(-1.0)).cast("double"),
        }
    ).df


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------

@query(
    "lookup_join",
    """
    SELECT y.o_orderkey,
           x.l_partkey, x.l_suppkey, x.l_linenumber, x.l_quantity,
           x.l_extendedprice, x.l_discount, x.l_tax, x.l_returnflag,
           x.l_linestatus, x.l_shipdate,
           y.o_custkey, y.o_orderstatus, y.o_totalprice, y.o_orderdate,
           y.o_orderpriority
    FROM (SELECT * FROM orders WHERE o_totalprice > 300000) y
    LEFT JOIN lineitem x ON x.l_orderkey = y.o_orderkey
    """,
)
def q_lookup_join(spark, sf_dir):
    """X[Y, on=...] right-lookup join, nomatch=NA (reference
    R/data.table.R:842-997; bmerge src/bmerge.c:39). One output row per
    Y row per match; unmatched Y rows kept with NULL X payload."""
    from .operators.joins import lookup

    t = load_tables(spark, sf_dir)
    x = t["lineitem"]
    y = t["orders"].query(i=F.col("o_totalprice") > 300000)
    out = lookup(x, y, on={"l_orderkey": "o_orderkey"}, nomatch="NA")
    return out.df


@query(
    "join_inner",
    """
    SELECT y.o_orderkey, x.l_linenumber, x.l_quantity, y.o_orderstatus
    FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') y
    JOIN lineitem x ON x.l_orderkey = y.o_orderkey
    """,
)
def q_join_inner(spark, sf_dir):
    """X[Y, nomatch=NULL] inner lookup (reference R/data.table.R:610-616)."""
    from .operators.joins import lookup

    t = load_tables(spark, sf_dir)
    x = t["lineitem"]
    y = t["orders"].query(i=F.col("o_orderpriority") == "1-URGENT")
    out = lookup(x, y, on={"l_orderkey": "o_orderkey"}, nomatch=None)
    return out.query(j=["o_orderkey", "l_linenumber", "l_quantity", "o_orderstatus"]).df


@query(
    "anti_join",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer x
    WHERE NOT EXISTS (SELECT 1 FROM orders y WHERE y.o_custkey = x.c_custkey)
    """,
)
def q_anti_join(spark, sf_dir):
    """X[!Y] notjoin (reference R/data.table.R:1041-1051) → left_anti."""
    from .operators.joins import lookup

    t = load_tables(spark, sf_dir)
    out = lookup(t["customer"], t["orders"], on={"c_custkey": "o_custkey"}, notjoin=True)
    return out.df


@query(
    "semi_join",
    """
    SELECT DISTINCT x.c_custkey, x.c_name
    FROM customer x
    WHERE EXISTS (
      SELECT 1 FROM orders y
      WHERE y.o_custkey = x.c_custkey AND y.o_totalprice > 300000)
    """,
)
def q_semi_join(spark, sf_dir):
    """Semi join — unique(X[Y, which=]) pattern (reference
    R/data.table.R:909-912) → left_semi."""
    from .operators.joins import join

    t = load_tables(spark, sf_dir)
    y = t["orders"].query(i=F.col("o_totalprice") > 300000)
    out = join(t["customer"], y, on=[("c_custkey", "==", "o_custkey")], how="left_semi")
    return out.query(j=["c_custkey", "c_name"]).df


@query(
    "mult_first",
    """
    SELECT o_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM (
      SELECT y.o_orderkey, x.l_linenumber, x.l_quantity, x.l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY y.o_orderkey
                                ORDER BY x.l_orderkey, x.l_linenumber,
                                         x.l_quantity, x.l_extendedprice) AS rn
      FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') y
      JOIN lineitem x ON x.l_orderkey = y.o_orderkey
    ) WHERE rn = 1
    """,
)
def q_mult_first(spark, sf_dir):
    """mult="first" — first matching X row per Y row in X key order
    (reference src/bmerge.c:32, R/data.table.R:960-967)."""
    from .operators.joins import lookup

    t = load_tables(spark, sf_dir)
    y = t["orders"].query(i=F.col("o_orderstatus") == "F")
    out = lookup(t["lineitem"], y, on={"l_orderkey": "o_orderkey"}, nomatch=None, mult="first")
    return out.query(j=["o_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]).df


@query(
    "mult_last",
    """
    SELECT o_orderkey, l_linenumber, l_quantity
    FROM (
      SELECT y.o_orderkey, x.l_linenumber, x.l_quantity,
             ROW_NUMBER() OVER (PARTITION BY y.o_orderkey
                                ORDER BY x.l_orderkey DESC, x.l_linenumber DESC,
                                         x.l_quantity DESC, x.l_extendedprice DESC) AS rn
      FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') y
      JOIN lineitem x ON x.l_orderkey = y.o_orderkey
    ) WHERE rn = 1
    """,
)
def q_mult_last(spark, sf_dir):
    """mult="last" (reference src/bmerge.c:32)."""
    from .operators.joins import lookup

    t = load_tables(spark, sf_dir)
    y = t["orders"].query(i=F.col("o_orderstatus") == "F")
    out = lookup(t["lineitem"], y, on={"l_orderkey": "o_orderkey"}, nomatch=None, mult="last")
    return out.query(j=["o_orderkey", "l_linenumber", "l_quantity"]).df


@query(
    "update_on_join",
    """
    SELECT o.o_orderkey, o.o_totalprice,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
      ON o.o_custkey = c.c_custkey
    """,
)
def q_update_on_join(spark, sf_dir):
    """X[Y, col := ...] update-on-join (reference R/data.table.R:1520,
    src/assign.c:355): matched rows get Y's value, unmatched keep default."""
    from .operators.joins import update_on_join

    t = load_tables(spark, sf_dir)
    y = t["customer"].query(i=F.col("c_acctbal") > 0)
    x = t["orders"].let(segment=F.lit("UNKNOWN"))
    out = update_on_join(x, y, on={"o_custkey": "c_custkey"}, segment=F.col("c_mktsegment"))
    return out.query(j=["o_orderkey", "o_totalprice", "segment"]).df


@query(
    "merge_full",
    """
    SELECT COALESCE(c.nk, s.nk) AS nk, c.n_cust, s.n_supp
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
          WHERE c_acctbal > 5000 GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier
          WHERE s_acctbal > 5000 GROUP BY s_nationkey) s
      ON c.nk = s.nk
    """,
)
def q_merge_full(spark, sf_dir):
    """merge(all=TRUE) SQL-style full outer (reference R/merge.R:1-149);
    key columns coalesced across sides."""
    from .operators.joins import merge

    t = load_tables(spark, sf_dir)
    c = t["customer"].query(
        i=F.col("c_acctbal") > 5000,
        j={"n_cust": F.count(F.lit(1))},
        by={"nk": F.col("c_nationkey")},
    )
    s = t["supplier"].query(
        i=F.col("s_acctbal") > 5000,
        j={"n_supp": F.count(F.lit(1))},
        by={"nk": F.col("s_nationkey")},
    )
    return merge(c, s, by=["nk"], all=True).df


@query(
    "eachi_join_agg",
    f"""
    SELECT y.o_orderkey,
           COUNT(*) AS n_items,
           {sql_dsum("x.l_quantity")} AS total_qty
    FROM (SELECT * FROM orders WHERE o_totalprice > 250000) y
    JOIN lineitem x ON x.l_orderkey = y.o_orderkey
    GROUP BY y.o_orderkey
    """,
)
def q_eachi(spark, sf_dir):
    """X[Y, j, by=.EACHI] — aggregate per i row over its matches
    (reference R/data.table.R:915-959)."""
    from .operators.joins import eachi

    t = load_tables(spark, sf_dir)
    y = t["orders"].query(i=F.col("o_totalprice") > 250000)
    out = eachi(
        t["lineitem"], y, on={"l_orderkey": "o_orderkey"},
        j={
            "n_items": F.count(F.lit(1)),
            "total_qty": dsum("l_quantity"),
        },
    )
    return out.df


@query(
    "cj_cross",
    """
    SELECT r.r_name, o.st FROM
      (SELECT DISTINCT r_name FROM region) r
    CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders) o
    """,
)
def q_cj(spark, sf_dir):
    """CJ — sorted cross-join of value vectors (reference src/cj.c:9)."""
    from .operators.joins import CJ

    t = load_tables(spark, sf_dir)
    out = CJ(
        spark,
        r_name=t["region"].df.select("r_name").distinct(),
        st=t["orders"].df.select(F.col("o_orderstatus").alias("st")).distinct(),
    )
    return out.df


@query(
    "nonequi_join",
    """
    SELECT s.s_suppkey, s.s_acctbal, n.n_name
    FROM supplier s JOIN nation n
      ON s.s_nationkey = n.n_nationkey AND s.s_acctbal > CAST(n.n_nationkey AS DOUBLE) * 100
    """,
)
def q_nonequi(spark, sf_dir):
    """Non-equi join on=.(a, b>c) (reference src/bmerge.c:20-24); one equi
    key keeps it hash-joinable, theta condition applied post-probe."""
    from .operators.joins import join

    t = load_tables(spark, sf_dir)
    n = t["nation"].let(thr=F.col("n_nationkey").cast("double") * 100)
    out = join(
        t["supplier"], n,
        on=[("s_nationkey", "==", "n_nationkey"), ("s_acctbal", ">", "thr")],
        how="inner",
    )
    return out.query(j=["s_suppkey", "s_acctbal", "n_name"]).df


# --------------------------------------------------------------------------
# §2.4 grouping (beyond plain agg)
# --------------------------------------------------------------------------

@query(
    "uniqueN_by",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_uniqueN(spark, sf_dir):
    """uniqueN by group (reference R/duplicated.R:102, src/uniqlist.c:354).
    Exact distinct (reference semantics); the 100 TB path can opt into
    approx_count_distinct."""
    from .operators.grouping import uniqueN

    t = load_tables(spark, sf_dir)
    out = uniqueN(t["orders"], cols=["o_custkey"], by=["o_orderstatus"])
    return out.df.withColumnRenamed("uniqueN", "n_cust")


@query(
    "unique_first",
    """
    SELECT o_custkey, o_orderstatus, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderstatus, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                                ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q_unique_first(spark, sf_dir):
    """unique(DT, by=) keeping the first row per key in declared order
    (reference R/duplicated.R:26) — deterministic, unlike raw
    dropDuplicates."""
    from .operators.grouping import unique

    t = load_tables(spark, sf_dir)
    out = unique(t["orders"], by=["o_custkey", "o_orderstatus"])
    return out.query(j=["o_custkey", "o_orderstatus", "o_orderkey", "o_totalprice"]).df


@query(
    "duplicated_flag",
    """
    SELECT l_orderkey, l_linenumber,
           (ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_quantity
                               ORDER BY l_orderkey, l_linenumber,
                                        l_quantity, l_extendedprice) > 1) AS dup
    FROM lineitem
    """,
)
def q_duplicated(spark, sf_dir):
    """duplicated() flag (reference R/duplicated.R:1)."""
    from .operators.grouping import duplicated

    t = load_tables(spark, sf_dir)
    out = duplicated(t["lineitem"], by=["l_orderkey", "l_quantity"])
    return out.query(j=["l_orderkey", "l_linenumber", "dup"]).df


@query(
    "ghead_per_group",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_orderkey, l_linenumber,
                                         l_quantity, l_extendedprice) AS rn
      FROM lineitem
    ) WHERE rn <= 2
    """,
)
def q_ghead(spark, sf_dir):
    """head(.SD, 2) by group — GForce ghead (reference src/gsumm.c:1004)."""
    from .operators.grouping import ghead

    t = load_tables(spark, sf_dir)
    out = ghead(t["lineitem"], 2, by=["l_orderkey"])
    return out.query(j=["l_orderkey", "l_linenumber", "l_quantity"]).df


@query(
    "weighted_mean",
    f"""
    SELECT l_returnflag,
           CAST({sql_dsum("l_extendedprice * l_quantity")}
                / {sql_dsum("l_quantity")} AS DOUBLE) AS wmean_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_weighted_mean(spark, sf_dir):
    """weighted.mean via gsum ratio (reference R/data.table.R:3353-3363)."""
    t = load_tables(spark, sf_dir)
    num = dsum(F.col("l_extendedprice") * F.col("l_quantity"))
    den = dsum("l_quantity")
    return t["lineitem"].query(
        j={"wmean_price": (num / den).cast("double")}, by=["l_returnflag"]
    ).df


@query(
    "gforce_minmax_firstlast",
    """
    SELECT l_returnflag, l_linestatus,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship,
           CAST(MEDIAN(l_quantity) AS DOUBLE) AS med_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_gforce_minmax(spark, sf_dir):
    """gmin/gmax/gmedian kernels (reference src/gsumm.c:730,869;
    quickselect src/quickselect.c:57)."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].query(
        j={
            "min_qty": F.min("l_quantity"),
            "max_qty": F.max("l_quantity"),
            "first_ship": F.min("l_shipdate"),
            "last_ship": F.max("l_shipdate"),
            "med_qty": F.median("l_quantity").cast("double"),
        },
        by=["l_returnflag", "l_linestatus"],
    ).df


@query(
    "gforce_var_sd",
    f"""
    SELECT o_orderstatus,
           CAST((sxx - sx * sx / n) / (n - 1) AS DOUBLE) AS var_price,
           CAST(SQRT((sxx - sx * sx / n) / (n - 1)) AS DOUBLE) AS sd_price
    FROM (
        SELECT o_orderstatus,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum("o_totalprice", 2)} AS sx,
               {sql_double(f"SUM({_OPRICE2} * {_OPRICE2})")} AS sxx
        FROM orders GROUP BY o_orderstatus
    )
    """,
)
def q_gforce_var(spark, sf_dir):
    """gvar/gsd (reference src/gsumm.c:1023-1115).

    Deterministic under any partitioning: var_samp over raw doubles drifts
    with partial-agg combine order, so compute from EXACT decimal sums
    (n, Σx, Σx²) — decimal addition is order-independent — then evaluate
    the identical double formula in both engines (data_table_spark/exact.py).
    """
    t = load_tables(spark, sf_dir)
    d = dec("o_totalprice", 2)
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(d).cast("double")
    sxx = F.sum(d * d).cast("double")
    var = (sxx - sx * sx / n) / (n - F.lit(1.0))
    return t["orders"].query(
        j={
            "var_price": var.cast("double"),
            "sd_price": F.sqrt(var).cast("double"),
        },
        by=["o_orderstatus"],
    ).df


@query(
    "rollup_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING_ID(l_returnflag, l_linestatus) AS grp_id,
           {sql_dsum("l_quantity")} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """rollup (reference R/groupingsets.R:4): native one-pass rollup vs
    the reference's per-set loop + rbind (R/groupingsets.R:154)."""
    from .operators.grouping import rollup

    t = load_tables(spark, sf_dir)
    out = rollup(
        t["lineitem"], ["l_returnflag", "l_linestatus"],
        j={
            "sum_qty": dsum("l_quantity"),
            "n": F.count(F.lit(1)),
        },
        id_col="grp_id",
    )
    return out.query(j=["l_returnflag", "l_linestatus", "grp_id", "sum_qty", "n"]).df


@query(
    "rollup_label",
    """
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'Total'
                ELSE l_returnflag END AS l_returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN 'Total'
                ELSE l_linestatus END AS l_linestatus,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_label(spark, sf_dir):
    """rollup label= (reference R/groupingsets.R label arg,
    man/groupingsets.Rd): 'total' rows of the grouping columns labeled
    'Total' — aggregated-ness from GROUPING(), so a data NULL is NOT
    relabeled."""
    from .operators.grouping import rollup

    t = load_tables(spark, sf_dir)
    out = rollup(
        t["lineitem"], ["l_returnflag", "l_linestatus"],
        j={"n": F.count(F.lit(1))},
        label="Total",
    )
    return out.query(j=["l_returnflag", "l_linestatus", "n"]).df


@query(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING_ID(l_returnflag, l_linestatus) AS grp_id,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """cube (reference R/groupingsets.R:22)."""
    from .operators.grouping import cube

    t = load_tables(spark, sf_dir)
    out = cube(
        t["lineitem"], ["l_returnflag", "l_linestatus"],
        j={"n": F.count(F.lit(1))}, id_col="grp_id",
    )
    return out.query(j=["l_returnflag", "l_linestatus", "grp_id", "n"]).df


@query(
    "groupingsets_agg",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING_ID(l_returnflag, l_linestatus) AS grp_id,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_groupingsets(spark, sf_dir):
    """groupingsets (reference R/groupingsets.R:44-172)."""
    from .operators.grouping import groupingsets

    t = load_tables(spark, sf_dir)
    out = groupingsets(
        t["lineitem"], [["l_returnflag"], ["l_linestatus"], []],
        j={"n": F.count(F.lit(1))}, id_col="grp_id",
    )
    return out.query(j=["l_returnflag", "l_linestatus", "grp_id", "n"]).df


# --------------------------------------------------------------------------
# §2.5 window / ordered
# --------------------------------------------------------------------------

@query(
    "shift_lag_lead",
    """
    SELECT event_id, user_id, value,
           LAG(value, 1)  OVER (PARTITION BY user_id ORDER BY event_id) AS value_lag_1,
           LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS value_lead_1
    FROM events
    """,
)
def q_shift(spark, sf_dir):
    """shift lag/lead per group over declared order (reference
    src/shift.c:4; GForce gshift src/gsumm.c:1195)."""
    from .operators.window import shift

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    out = shift(ev, ["value"], n=1, type_="lag", by=["user_id"])
    out = shift(out, ["value"], n=1, type_="lead", by=["user_id"])
    return out.query(j=["event_id", "user_id", "value", "value_lag_1", "value_lead_1"]).df


@query(
    "froll_mean_sum",
    """
    SELECT event_id, user_id,
           CASE WHEN COUNT(*) OVER w >= 5 AND COUNT(value) OVER w = COUNT(*) OVER w
                THEN AVG(value) OVER w END AS value_rollmean_5,
           CASE WHEN COUNT(*) OVER w >= 5 AND COUNT(value) OVER w = COUNT(*) OVER w
                THEN SUM(value) OVER w END AS value_rollsum_5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def q_froll(spark, sf_dir):
    """frollmean/frollsum fixed window, right-aligned, NULL until full
    (reference R/froll.R:158-224, src/froll.c:24). WindowExec's frame
    buffer is the online add/subtract algorithm's distributed analog.
    The oracle encodes the reference's na.rm=FALSE default — a NULL
    anywhere in the window poisons the result — via the
    COUNT(value)=COUNT(*) mask, so a nullable input diverges loudly
    instead of silently (ADVICE r5)."""
    from .operators.window import froll

    t = load_tables(spark, sf_dir)
    out = froll(t["events"], "mean", ["value"], 5, by=["user_id"])
    out = froll(out, "sum", ["value"], 5, by=["user_id"])
    return out.query(j=["event_id", "user_id", "value_rollmean_5", "value_rollsum_5"]).df


@query(
    "froll_narm",
    """
    WITH ev AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT event_id, user_id, value,
           CASE WHEN COUNT(*) OVER w >= 4 AND COUNT(value) OVER w = COUNT(*) OVER w
                THEN SUM(value) OVER w END AS strict_sum,
           CASE WHEN COUNT(*) OVER w >= 4
                THEN COALESCE(SUM(value) OVER w, CAST(0 AS DOUBLE))
                END AS skip_sum
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def q_froll_narm(spark, sf_dir):
    """froll na.rm semantics on genuinely nullable input (reference
    src/froll.c hasNA branch): na_rm=False (reference default) poisons
    any window containing an NA; na_rm=True skips NAs — and a FULL
    window of only NAs yields R's empty-sum identity 0, not NULL
    (froll.Rraw 6000.066; the oracle COALESCEs to the same). Nulls are
    synthesized on event_id % 7 so both branches are exercised on real
    data (ADVICE r5 medium item); the sf0.01 corpus contains 6 full
    all-NA windows, so the identity rule is driver-checked."""
    from .operators.window import froll

    t = load_tables(spark, sf_dir)
    ev = t["events"].let(
        value=F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    )
    out = froll(ev, "sum", ["value"], 4, by=["user_id"], na_rm=False)
    out = out.setnames("value_rollsum_4", "strict_sum")
    out = froll(out, "sum", ["value"], 4, by=["user_id"], na_rm=True)
    out = out.setnames("value_rollsum_4", "skip_sum")
    return out.query(j=["event_id", "user_id", "value", "strict_sum", "skip_sum"]).df


@query(
    "frank_ties",
    """
    SELECT l_orderkey, l_linenumber,
           CAST((2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                 + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0
                AS DOUBLE) AS rank,
           DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS drank
    FROM lineitem
    """,
)
def q_frank(spark, sf_dir):
    """frank ties=average + dense (reference R/frank.R:1, src/frank.c:112)."""
    from .operators.window import frank

    t = load_tables(spark, sf_dir)
    out = frank(t["lineitem"], "l_quantity", ties="average", by=["l_returnflag"])
    out = frank(out, "l_quantity", ties="dense", by=["l_returnflag"], out_col="drank")
    return out.query(j=["l_orderkey", "l_linenumber", "rank", "drank"]).df


@query(
    "frank_random",
    """
    SELECT l_orderkey, l_linenumber,
           ROW_NUMBER() OVER (
             PARTITION BY l_returnflag
             ORDER BY l_quantity,
               md5('42:' || CAST(l_orderkey AS VARCHAR) || ':'
                          || CAST(l_linenumber AS VARCHAR))
           ) AS rrank
    FROM lineitem
    """,
)
def q_frank_random(spark, sf_dir):
    """frank ties="random" (reference src/frank.c:112 breaks ties with
    the R RNG). Distributed adaptation: the tie permutation is a SEEDED
    md5 draw over a unique tiebreak key — reproducible across runs,
    partitionings, and engines, which is the only well-defined "random"
    on a distributed table. DuckDB computes the identical hash, so the
    oracle is exact."""
    from .operators.window import frank

    t = load_tables(spark, sf_dir)
    out = frank(
        t["lineitem"], "l_quantity", ties="random", by=["l_returnflag"],
        out_col="rrank", tiebreak=["l_orderkey", "l_linenumber"], seed=42,
    )
    return out.query(j=["l_orderkey", "l_linenumber", "rrank"]).df


@query(
    "rleid_runs",
    """
    WITH flagged AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type IS DISTINCT FROM
                  LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
             THEN 1 ELSE 0 END AS chg
      FROM events
    )
    SELECT event_id, user_id, event_type,
           CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rleid
    FROM flagged
    """,
)
def q_rleid(spark, sf_dir):
    """rleid — run-length ids over declared order (reference
    src/uniqlist.c:170); change-flag + running sum, per-group to
    distribute."""
    from .operators.window import rleid

    t = load_tables(spark, sf_dir)
    out = rleid(t["events"], ["event_type"], by=["user_id"])
    return (
        out.query(j=["event_id", "user_id", "event_type", "rleid"])
        .df.withColumn("rleid", F.col("rleid").cast("long"))
    )


@query(
    "rowid_counter",
    """
    SELECT l_orderkey, l_linenumber,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY l_orderkey, l_linenumber,
                                       l_quantity, l_extendedprice) AS rowid
    FROM lineitem
    """,
)
def q_rowid(spark, sf_dir):
    """rowid — counter within duplicate group (reference
    R/data.table.R:3267-3291)."""
    from .operators.window import rowid

    t = load_tables(spark, sf_dir)
    out = rowid(t["lineitem"], ["l_orderkey"])
    return out.query(j=["l_orderkey", "l_linenumber", "rowid"]).df


@query(
    "nafill_locf_nocb",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id, v,
           LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
           FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_nocb
    FROM e
    """,
)
def q_nafill(spark, sf_dir):
    """nafill locf/nocb (reference src/nafill.c:120); NULLs injected
    deterministically."""
    from .operators.window import nafill_locf, nafill_nocb

    t = load_tables(spark, sf_dir)
    ev = t["events"].let(
        v=F.when(F.col("event_type") == "view", F.lit(None).cast("double")).otherwise(F.col("value"))
    )
    out = nafill_locf(ev, ["v"], by=["user_id"], suffix="_locf")
    out = nafill_nocb(out, ["v"], by=["user_id"], suffix="_nocb")
    return out.query(j=["event_id", "user_id", "v", "v_locf", "v_nocb"]).df


@query(
    "cumsum_running",
    f"""
    SELECT event_id, user_id,
           {sql_double(
               f"SUM({sql_dec('value')}) OVER (PARTITION BY user_id"
               " ORDER BY event_id"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
           )} AS value_cumsum
    FROM events
    """,
)
def q_cumsum(spark, sf_dir):
    """cumsum per group (SURVEY §2.5 last row)."""
    from .operators.window import cumfn

    t = load_tables(spark, sf_dir)
    ev = t["events"].let(__v=dec("value"))
    out = cumfn(ev, "sum", ["__v"], by=["user_id"])
    return out.query(
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value_cumsum": F.col("__v_cumsum").cast("double"),
        }
    ).df


# --------------------------------------------------------------------------
# §2.3 rolling (as-of) and overlap joins
# --------------------------------------------------------------------------

def _quotes_trades(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    quotes = ev.query(
        i=F.col("event_type") == "view",
        j={
            "user_id": F.col("user_id"),
            "ts_us": F.col("ts_us"),
            "quote_val": F.col("value"),
        },
    )
    trades = ev.query(
        i=F.col("event_type") == "purchase",
        j={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "ts_us": F.col("ts_us"),
        },
    )
    trades.order_by = ["event_id"]
    return quotes, trades


_ASOF_CTE = """
    WITH quotes AS (SELECT user_id, epoch_us(ts) AS ts_us, value AS quote_val
                    FROM events WHERE event_type = 'view'),
         trades AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                    FROM events WHERE event_type = 'purchase')
"""


@query(
    "asof_roll_forward",
    _ASOF_CTE + """
    SELECT t.event_id, t.user_id, t.ts_us,
           q.quote_val, q.ts_us AS quote_ts
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts_us >= q.ts_us
    """,
)
def q_asof_forward(spark, sf_dir):
    """Rolling join roll=TRUE (LOCF as-of join; reference
    src/bmerge.c:13-17, R/data.table.R:597-608). Union-tag + per-key
    window fill — one shuffle, no driver round-trip."""
    from .operators.asof import asof_join

    quotes, trades = _quotes_trades(spark, sf_dir)
    out = asof_join(
        quotes, trades, on=["user_id"], time_x="ts_us", time_i="ts_us", roll=True
    )
    return out.df.withColumnRenamed("ts_us_x", "quote_ts")


@query(
    "asof_roll_backward",
    _ASOF_CTE + """
    SELECT t.event_id, t.user_id, t.ts_us,
           q.quote_val, q.ts_us AS quote_ts
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts_us <= q.ts_us
    """,
)
def q_asof_backward(spark, sf_dir):
    """Rolling join roll=-Inf (NOCB; reference src/bmerge.c:13-17)."""
    from .operators.asof import asof_join

    quotes, trades = _quotes_trades(spark, sf_dir)
    out = asof_join(
        quotes, trades, on=["user_id"], time_x="ts_us", time_i="ts_us", roll="nocb"
    )
    return out.df.withColumnRenamed("ts_us_x", "quote_ts")


@query(
    "asof_roll_limit",
    _ASOF_CTE + """
    SELECT t.event_id, t.user_id, t.ts_us,
           CASE WHEN t.ts_us - q.ts_us <= 3600000000 THEN q.quote_val END AS quote_val,
           CASE WHEN t.ts_us - q.ts_us <= 3600000000 THEN q.ts_us END AS quote_ts
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts_us >= q.ts_us
    """,
)
def q_asof_limit(spark, sf_dir):
    """Rolling join roll=n — staleness limit (1 hour in µs); reference
    src/bmerge.c roll-limit semantics."""
    from .operators.asof import asof_join

    quotes, trades = _quotes_trades(spark, sf_dir)
    out = asof_join(
        quotes, trades, on=["user_id"], time_x="ts_us", time_i="ts_us",
        roll=3_600_000_000,
    )
    return out.df.withColumnRenamed("ts_us_x", "quote_ts")


@query(
    "asof_roll_nearest",
    _ASOF_CTE + """
    , fwd AS (
      SELECT t.event_id, q.quote_val, q.ts_us AS qts
      FROM trades t ASOF LEFT JOIN quotes q
        ON t.user_id = q.user_id AND t.ts_us >= q.ts_us),
    bwd AS (
      SELECT t.event_id, q.quote_val, q.ts_us AS qts
      FROM trades t ASOF LEFT JOIN quotes q
        ON t.user_id = q.user_id AND t.ts_us <= q.ts_us)
    SELECT t.event_id, t.user_id, t.ts_us,
           CASE WHEN b.qts IS NULL THEN f.quote_val
                WHEN f.qts IS NULL THEN b.quote_val
                WHEN t.ts_us - f.qts <= b.qts - t.ts_us THEN f.quote_val
                ELSE b.quote_val END AS quote_val,
           CASE WHEN b.qts IS NULL THEN f.qts
                WHEN f.qts IS NULL THEN b.qts
                WHEN t.ts_us - f.qts <= b.qts - t.ts_us THEN f.qts
                ELSE b.qts END AS quote_ts
    FROM trades t
    LEFT JOIN fwd f ON t.event_id = f.event_id
    LEFT JOIN bwd b ON t.event_id = b.event_id
    """,
)
def q_asof_nearest(spark, sf_dir):
    """Rolling join roll="nearest" (reference src/bmerge.c:13-17)."""
    from .operators.asof import asof_join

    quotes, trades = _quotes_trades(spark, sf_dir)
    out = asof_join(
        quotes, trades, on=["user_id"], time_x="ts_us", time_i="ts_us", roll="nearest"
    )
    return out.df.withColumnRenamed("ts_us_x", "quote_ts")


@query(
    "asof_roll_rollends",
    _ASOF_CTE + """
    , fwd AS (
      SELECT t.event_id, q.quote_val, q.ts_us AS qts
      FROM trades t ASOF LEFT JOIN quotes q
        ON t.user_id = q.user_id AND t.ts_us >= q.ts_us),
    bwd AS (
      SELECT t.event_id, q.quote_val, q.ts_us AS qts
      FROM trades t ASOF LEFT JOIN quotes q
        ON t.user_id = q.user_id AND t.ts_us <= q.ts_us)
    SELECT t.event_id, t.user_id, t.ts_us,
           CASE WHEN f.qts IS NOT NULL AND b.qts IS NOT NULL THEN f.quote_val
                WHEN f.qts IS NULL THEN b.quote_val END AS quote_val,
           CASE WHEN f.qts IS NOT NULL AND b.qts IS NOT NULL THEN f.qts
                WHEN f.qts IS NULL THEN b.qts END AS quote_ts
    FROM trades t
    LEFT JOIN fwd f ON t.event_id = f.event_id
    LEFT JOIN bwd b ON t.event_id = b.event_id
    """,
)
def q_asof_rollends(spark, sf_dir):
    """roll=TRUE with rollends=(TRUE, FALSE) — the non-default ends:
    roll the FIRST quote backward to trades before any quote, do NOT
    roll the last quote past the end (reference R/data.table.R:597-608,
    src/bmerge.c:312-318; man/data.table.Rd rollends). Oracle: in-range
    trades take the prevailing (fwd) quote only when a following quote
    exists; before-first trades take the next (bwd) quote."""
    from .operators.asof import asof_join

    quotes, trades = _quotes_trades(spark, sf_dir)
    out = asof_join(
        quotes, trades, on=["user_id"], time_x="ts_us", time_i="ts_us",
        roll=True, rollends=(True, False),
    )
    return out.df.withColumnRenamed("ts_us_x", "quote_ts")


@query(
    "foverlaps_any",
    """
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
           s.s_suppkey, s.s_acctbal
    FROM customer c JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND c.c_acctbal <= s.s_acctbal + 500
     AND s.s_acctbal <= c.c_acctbal + 500
    """,
)
def q_foverlaps(spark, sf_dir):
    """foverlaps type="any" — interval×interval join with equi prefix
    (reference R/foverlaps.R:1-249, src/ijoin.c:9). Equi key keeps it
    hash-joinable; range predicate filters the probe."""
    from .operators.overlaps import foverlaps

    t = load_tables(spark, sf_dir)
    cust = t["customer"].query(
        j={
            "c_custkey": F.col("c_custkey"),
            "c_nationkey": F.col("c_nationkey"),
            "c_acctbal": F.col("c_acctbal"),
            "cs": F.col("c_acctbal"),
            "ce": F.col("c_acctbal") + 500,
        }
    )
    cust.order_by = ["c_custkey"]
    supp = t["supplier"].query(
        j={
            "s_suppkey": F.col("s_suppkey"),
            "s_nationkey": F.col("s_nationkey"),
            "s_acctbal": F.col("s_acctbal"),
            "ss": F.col("s_acctbal"),
            "se": F.col("s_acctbal") + 500,
        }
    )
    out = foverlaps(
        cust, supp,
        by_x=["c_nationkey", "cs", "ce"], by_y=["s_nationkey", "ss", "se"],
        type_="any",
    )
    return out.query(
        j=["c_custkey", "c_nationkey", "c_acctbal", "s_suppkey", "s_acctbal"]
    ).df


@query(
    "foverlaps_bucketed",
    """
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
           s.s_suppkey, s.s_acctbal
    FROM customer c JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND c.c_acctbal <= s.s_acctbal + 500
     AND s.s_acctbal <= c.c_acctbal + 500
    """,
)
def q_foverlaps_bucketed(spark, sf_dir):
    """foverlaps, big-big posture (reference R/foverlaps.R:1-249
    semantics): interval-bucketed equi join — explode each interval into
    fixed-width buckets, hash-join on (equi key, bucket), keep each pair
    only in the bucket of greatest(start_x, start_y). No broadcast of
    either side, no BroadcastNestedLoop; same oracle as foverlaps_any."""
    from .operators.overlaps import foverlaps_bucketed

    t = load_tables(spark, sf_dir)
    cust = t["customer"].query(
        j={
            "c_custkey": F.col("c_custkey"),
            "c_nationkey": F.col("c_nationkey"),
            "c_acctbal": F.col("c_acctbal"),
            "cs": F.col("c_acctbal"),
            "ce": F.col("c_acctbal") + 500,
        }
    )
    cust.order_by = ["c_custkey"]
    supp = t["supplier"].query(
        j={
            "s_suppkey": F.col("s_suppkey"),
            "s_nationkey": F.col("s_nationkey"),
            "s_acctbal": F.col("s_acctbal"),
            "ss": F.col("s_acctbal"),
            "se": F.col("s_acctbal") + 500,
        }
    )
    out = foverlaps_bucketed(
        cust, supp,
        by_x=["c_nationkey", "cs", "ce"], by_y=["s_nationkey", "ss", "se"],
        type_="any", bucket_width=500,
    )
    return out.query(
        j=["c_custkey", "c_nationkey", "c_acctbal", "s_suppkey", "s_acctbal"]
    ).df


@query(
    "foverlaps_within",
    """
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND c.c_acctbal >= s.s_acctbal - 1000
     AND c.c_acctbal + 100 <= s.s_acctbal + 1000
    """,
)
def q_foverlaps_within(spark, sf_dir):
    """foverlaps type="within" (reference R/foverlaps.R predicate table)."""
    from .operators.overlaps import foverlaps

    t = load_tables(spark, sf_dir)
    cust = t["customer"].query(
        j={
            "c_custkey": F.col("c_custkey"),
            "c_nationkey": F.col("c_nationkey"),
            "cs": F.col("c_acctbal"),
            "ce": F.col("c_acctbal") + 100,
        }
    )
    cust.order_by = ["c_custkey"]
    supp = t["supplier"].query(
        j={
            "s_suppkey": F.col("s_suppkey"),
            "s_nationkey": F.col("s_nationkey"),
            "ss": F.col("s_acctbal") - 1000,
            "se": F.col("s_acctbal") + 1000,
        }
    )
    out = foverlaps(
        cust, supp,
        by_x=["c_nationkey", "cs", "ce"], by_y=["s_nationkey", "ss", "se"],
        type_="within",
    )
    return out.query(j=["c_custkey", "s_suppkey"]).df


@query(
    "foverlaps_start",
    """
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND CAST(FLOOR(c.c_acctbal / 10) AS BIGINT)
         = CAST(FLOOR(s.s_acctbal / 10) - 100 AS BIGINT)
    """,
)
def q_foverlaps_start(spark, sf_dir):
    """foverlaps type="start" (reference R/foverlaps.R predicate table):
    intervals matching on an identical start point (integerized so the
    equality is exact). The equal-start predicate is an extra equi key,
    so Catalyst runs this as a pure hash join — no range scan at all."""
    from .operators.overlaps import foverlaps

    t = load_tables(spark, sf_dir)
    cust = t["customer"].query(
        j={
            "c_custkey": F.col("c_custkey"),
            "c_nationkey": F.col("c_nationkey"),
            "cs": F.floor(F.col("c_acctbal") / 10).cast("bigint"),
            "ce": F.floor(F.col("c_acctbal") / 10).cast("bigint") + 10,
        }
    )
    supp = t["supplier"].query(
        j={
            "s_suppkey": F.col("s_suppkey"),
            "s_nationkey": F.col("s_nationkey"),
            "ss": (F.floor(F.col("s_acctbal") / 10) - 100).cast("bigint"),
            "se": (F.floor(F.col("s_acctbal") / 10) + 100).cast("bigint"),
        }
    )
    out = foverlaps(
        cust, supp,
        by_x=["c_nationkey", "cs", "ce"], by_y=["s_nationkey", "ss", "se"],
        type_="start",
    )
    return out.query(j=["c_custkey", "s_suppkey"]).df


@query(
    "foverlaps_end",
    """
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND CAST(FLOOR(c.c_acctbal / 10) AS BIGINT) + 10
         = CAST(FLOOR(s.s_acctbal / 10) + 100 AS BIGINT)
    """,
)
def q_foverlaps_end(spark, sf_dir):
    """foverlaps type="end" (reference R/foverlaps.R predicate table:
    x.end = y.end): like type="start", the boundary equality becomes an
    extra equi key — pure hash join, no range probe."""
    from .operators.overlaps import foverlaps

    t = load_tables(spark, sf_dir)
    cust = t["customer"].query(
        j={
            "c_custkey": F.col("c_custkey"),
            "c_nationkey": F.col("c_nationkey"),
            "cs": F.floor(F.col("c_acctbal") / 10).cast("bigint"),
            "ce": F.floor(F.col("c_acctbal") / 10).cast("bigint") + 10,
        }
    )
    supp = t["supplier"].query(
        j={
            "s_suppkey": F.col("s_suppkey"),
            "s_nationkey": F.col("s_nationkey"),
            "ss": (F.floor(F.col("s_acctbal") / 10) - 100).cast("bigint"),
            "se": (F.floor(F.col("s_acctbal") / 10) + 100).cast("bigint"),
        }
    )
    out = foverlaps(
        cust, supp,
        by_x=["c_nationkey", "cs", "ce"], by_y=["s_nationkey", "ss", "se"],
        type_="end",
    )
    return out.query(j=["c_custkey", "s_suppkey"]).df


@query(
    "inrange_semi",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem x
    WHERE EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_size < 10
        AND x.l_quantity >= p.p_size AND x.l_quantity <= p.p_size + 2)
    """,
)
def q_inrange(spark, sf_dir):
    """%inrange% — x within ANY of a table of ranges (reference
    R/between.R:76-100, src/inrange.c:4) → left_semi range join against a
    broadcastable ranges table."""
    from .operators.overlaps import inrange

    t = load_tables(spark, sf_dir)
    ranges = t["part"].query(
        i=F.col("p_size") < 10,
        j={"lo": F.col("p_size").cast("double"), "hi": F.col("p_size").cast("double") + 2},
    )
    out = inrange(t["lineitem"], "l_quantity", ranges, "lo", "hi")
    return out.query(j=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]).df


@query(
    "inrange_bucketed",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem x
    WHERE EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_size < 10
        AND x.l_quantity >= p.p_size AND x.l_quantity <= p.p_size + 2)
    """,
)
def q_inrange_bucketed(spark, sf_dir):
    """%inrange%, big-big posture (reference src/inrange.c:4 semantics):
    point -> ONE fixed-width bucket, ranges explode into spanned
    buckets, left_semi equi-join on bucket + range predicate — the
    ranges table never broadcasts. Same oracle as inrange_semi."""
    from .operators.overlaps import inrange

    t = load_tables(spark, sf_dir)
    ranges = t["part"].query(
        i=F.col("p_size") < 10,
        j={"lo": F.col("p_size").cast("double"), "hi": F.col("p_size").cast("double") + 2},
    )
    out = inrange(t["lineitem"], "l_quantity", ranges, "lo", "hi", bucket_width=2)
    return out.query(j=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]).df


# --------------------------------------------------------------------------
# §2.8 reshape
# --------------------------------------------------------------------------

@query(
    "dcast_pivot",
    f"""
    SELECT l_returnflag,
           {sql_double(f"SUM(CASE WHEN l_linestatus = 'F' THEN {_QTY} END)")} AS F,
           {sql_double(f"SUM(CASE WHEN l_linestatus = 'O' THEN {_QTY} END)")} AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_dcast(spark, sf_dir):
    """dcast long→wide pivot (reference R/fcast.R:11, src/fcast.c:7).
    Explicit pivot values keep the plan one-pass."""
    from .operators.reshape import dcast

    t = load_tables(spark, sf_dir)
    out = dcast(
        t["lineitem"], ["l_returnflag"], "l_linestatus", "l_quantity",
        fun_agg={"sum": dsum("l_quantity")},
        pivot_values=["F", "O"],
    )
    return out.df


@query(
    "dcast_multi_agg",
    f"""
    SELECT l_returnflag,
           {sql_double(f"SUM(CASE WHEN l_linestatus = 'F' THEN {_QTY} END)")} AS F_s,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F_n,
           {sql_double(f"SUM(CASE WHEN l_linestatus = 'O' THEN {_QTY} END)")} AS O_s,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O_n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_dcast_multi(spark, sf_dir):
    """dcast with multiple fun.aggregate (reference R/fcast.R:126-253)."""
    from .operators.reshape import dcast

    t = load_tables(spark, sf_dir)
    out = dcast(
        t["lineitem"], ["l_returnflag"], "l_linestatus", "l_quantity",
        fun_agg={
            "s": dsum("l_quantity"),
            "n": F.count(F.lit(1)),
        },
        pivot_values=["F", "O"],
    )
    return out.df


@query(
    "dcast_margins",
    f"""
    WITH s AS (
      SELECT l_returnflag, CAST(year(l_shipdate) AS VARCHAR) AS l_year,
             l_linestatus, l_quantity
      FROM lineitem),
    u AS (
      SELECT l_returnflag, l_year, l_linestatus, l_quantity FROM s
      UNION ALL
      SELECT l_returnflag, '(all)', l_linestatus, l_quantity FROM s
      UNION ALL
      SELECT '(all)', '(all)', l_linestatus, l_quantity FROM s)
    SELECT l_returnflag, l_year,
           {sql_double(f"SUM(CASE WHEN l_linestatus = 'F' THEN {_QTY} END)")} AS F,
           {sql_double(f"SUM(CASE WHEN l_linestatus = 'O' THEN {_QTY} END)")} AS O
    FROM u GROUP BY l_returnflag, l_year
    """,
)
def q_dcast_margins(spark, sf_dir):
    """dcast margins=TRUE — subtotal rows at every rollup level of the
    rowvars, collapsed vars shown "(all)" (the reference declares
    margins= but leaves it unimplemented, man/dcast.data.table.Rd:25;
    reshape2 semantics). Union-with-rollup of the pivot input: one
    shuffle, one pivot over all levels."""
    from .operators.reshape import dcast

    t = load_tables(spark, sf_dir)
    s = DT(
        t["lineitem"].df.withColumn(
            "l_year", F.year("l_shipdate").cast("string")
        )
    )
    out = dcast(
        s, ["l_returnflag", "l_year"], "l_linestatus", "l_quantity",
        fun_agg={"s": dsum("l_quantity")},
        pivot_values=["F", "O"],
        margins=True,
    )
    return out.df


@query(
    "dcast_drop_false",
    f"""
    WITH s AS (
      SELECT l_returnflag, CAST(month(l_shipdate) AS INT) AS l_month,
             l_linestatus, l_extendedprice
      FROM lineitem
      WHERE l_quantity = 1 AND year(l_shipdate) = 2001),
    rf AS (SELECT DISTINCT l_returnflag FROM s),
    mo AS (SELECT DISTINCT l_month FROM s),
    agg AS (
      SELECT l_returnflag, l_month,
             {sql_double(f"SUM(CASE WHEN l_linestatus = 'F' THEN {_XPRICE} END)")} AS F,
             {sql_double(f"SUM(CASE WHEN l_linestatus = 'O' THEN {_XPRICE} END)")} AS O
      FROM s GROUP BY l_returnflag, l_month)
    SELECT rf.l_returnflag, mo.l_month, agg.F, agg.O
    FROM rf CROSS JOIN mo
    LEFT JOIN agg USING (l_returnflag, l_month)
    """,
)
def q_dcast_drop_false(spark, sf_dir):
    """dcast drop=FALSE (reference R/fcast.R:127,217-226): emit every
    combination of the rowvars' observed levels (cj_uniq), with all-NULL
    value columns for combinations absent from the data. The subset
    (quantity=1, shipped 2001) leaves joint (returnflag, month) holes at
    sf0.01 that only this path fills in."""
    from .operators.reshape import dcast

    t = load_tables(spark, sf_dir)
    s = DT(
        t["lineitem"].df.filter(
            (F.col("l_quantity") == 1) & (F.year("l_shipdate") == 2001)
        ).withColumn("l_month", F.month("l_shipdate"))
    )
    out = dcast(
        s, ["l_returnflag", "l_month"], "l_linestatus", "l_extendedprice",
        fun_agg={"s": dsum("l_extendedprice")},
        pivot_values=["F", "O"],
        drop=(False, True),
    )
    return out.df


@query(
    "melt_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem
    """,
)
def q_melt(spark, sf_dir):
    """melt wide→long (reference R/fmelt.R:6, src/fmelt.c:785) — native
    unpivot, row-local (no shuffle)."""
    from .operators.reshape import melt

    t = load_tables(spark, sf_dir)
    out = melt(
        t["lineitem"], ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice"],
    )
    return out.df


@query(
    "melt_narm",
    """
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_totalprice END AS price,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE CAST(o_custkey AS DOUBLE) END AS prio
      FROM orders
    )
    SELECT o_orderkey, 'price' AS variable, price AS value
    FROM src WHERE price IS NOT NULL
    UNION ALL
    SELECT o_orderkey, 'prio', prio FROM src WHERE prio IS NOT NULL
    """,
)
def q_melt_narm(spark, sf_dir):
    """melt(na.rm=TRUE) (reference R/fmelt.R na.rm arg): NULL cells are
    dropped from the long form. NULLs synthesized deterministically by
    key modulus (the driver tables ship without NAs)."""
    from .operators.reshape import melt

    t = load_tables(spark, sf_dir)
    src = t["orders"].query(
        j={
            "o_orderkey": F.col("o_orderkey"),
            "price": F.when(
                F.col("o_orderkey") % 7 == 0, F.lit(None)
            ).otherwise(F.col("o_totalprice")),
            "prio": F.when(
                F.col("o_orderkey") % 11 == 0, F.lit(None)
            ).otherwise(F.col("o_custkey").cast("double")),
        }
    )
    return melt(src, ["o_orderkey"], ["price", "prio"], na_rm=True).df


@query(
    "melt_multi_measure",
    """
    SELECT l_orderkey, l_linenumber, 1 AS variable,
           l_quantity AS qty, l_extendedprice AS price
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 2,
           l_tax, l_discount
    FROM lineitem
    """,
)
def q_melt_multi(spark, sf_dir):
    """Multi-measure-group melt — measure(sep=)/patterns() (reference
    R/fmelt.R:32-124): column groups melt in lockstep, aligned by
    position; posexplode over zipped structs, row-local."""
    from .operators.reshape import melt_multi

    t = load_tables(spark, sf_dir)
    out = melt_multi(
        t["lineitem"], ["l_orderkey", "l_linenumber"],
        {"qty": ["l_quantity", "l_tax"], "price": ["l_extendedprice", "l_discount"]},
    )
    return out.df


@query(
    "rbindlist_fill",
    """
    SELECT 1 AS src, o_orderkey AS id, o_totalprice AS price, NULL::DOUBLE AS bal
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT 2, c_custkey, NULL, c_acctbal
    FROM customer WHERE c_acctbal < 0
    """,
)
def q_rbindlist(spark, sf_dir):
    """rbindlist(use.names, fill, idcol) (reference src/rbindlist.c:5) →
    unionByName(allowMissingColumns) + source index."""
    from .operators.reshape import rbindlist

    t = load_tables(spark, sf_dir)
    a = t["orders"].query(
        i=F.col("o_totalprice") > 400000,
        j={"id": F.col("o_orderkey"), "price": F.col("o_totalprice")},
    )
    b = t["customer"].query(
        i=F.col("c_acctbal") < 0,
        j={"id": F.col("c_custkey"), "bal": F.col("c_acctbal")},
    )
    out = rbindlist([a, b], fill=True, idcol="src")
    return out.df


@query(
    "tstrsplit_cols",
    """
    SELECT o_orderkey,
           split_part(o_orderpriority, '-', 1) AS prio_num,
           split_part(o_orderpriority, '-', 2) AS prio_name
    FROM orders
    """,
)
def q_tstrsplit(spark, sf_dir):
    """tstrsplit (reference R/transpose.R:26) — split + getItem, row-local."""
    from .operators.reshape import tstrsplit

    t = load_tables(spark, sf_dir)
    ords = t["orders"].query(j=["o_orderkey", "o_orderpriority"])
    # n_parts=2: o_orderpriority is "N-NAME"; skips the part-count probe
    out = tstrsplit(ords, "o_orderpriority", "-", ["prio_num", "prio_name"],
                    n_parts=2)
    return out.df


# --------------------------------------------------------------------------
# §2.7 set operations
# --------------------------------------------------------------------------

def _setops_xy(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    x = t["lineitem"].query(
        i=F.col("l_quantity") < 25, j=["l_orderkey", "l_partkey"]
    )
    y = t["lineitem"].query(
        i=F.col("l_quantity") > 15, j=["l_orderkey", "l_partkey"]
    )
    return x, y


@query(
    "funion_all",
    """
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity < 25
    UNION ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 15
    """,
)
def q_funion(spark, sf_dir):
    """funion(all=TRUE) (reference R/setops.R:91)."""
    from .operators.setops import funion

    x, y = _setops_xy(spark, sf_dir)
    return funion(x, y, all=True).df


@query(
    "fintersect_all",
    """
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity < 25
    INTERSECT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 15
    """,
)
def q_fintersect(spark, sf_dir):
    """fintersect(all=TRUE) (reference R/setops.R:60)."""
    from .operators.setops import fintersect

    x, y = _setops_xy(spark, sf_dir)
    return fintersect(x, y, all=True).df


@query(
    "fsetdiff_all",
    """
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity < 25
    EXCEPT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 15
    """,
)
def q_fsetdiff(spark, sf_dir):
    """fsetdiff(all=TRUE) (reference R/setops.R:76)."""
    from .operators.setops import fsetdiff

    x, y = _setops_xy(spark, sf_dir)
    return fsetdiff(x, y, all=True).df


# Chunk-stitch twins (round-9 verdict item 3): the SAME queries through
# the opt-in hot-key chunk-stitch (n_chunks=4). The stitch is EXACT, so
# each twin reuses its unsplit query's oracle verbatim — a driver-green
# value-hash on the stitched plan, not just the pytest equivalence.
@query("froll_chunked", None)
def q_froll_chunked(spark, sf_dir):
    """froll_mean_sum through the halo chunk-stitch (n_chunks=4):
    per-(key, chunk) rolling frames + spine-chained halo replication
    (operators/window.py _ordered_chunk_stitch) — the hot-key posture;
    output identical to the unsplit plan, same oracle."""
    from .operators.window import froll

    t = load_tables(spark, sf_dir)
    out = froll(t["events"], "mean", ["value"], 5, by=["user_id"], n_chunks=4)
    out = froll(out, "sum", ["value"], 5, by=["user_id"], n_chunks=4)
    return out.query(
        j=["event_id", "user_id", "value_rollmean_5", "value_rollsum_5"]
    ).df


@query("asof_chunked", None)
def q_asof_chunked(spark, sf_dir):
    """asof_roll_nearest through the carry-in chunk-stitch
    (n_chunks=4): per-(key, chunk) running fills + per-column chunk
    carries (operators/asof.py) — identical output, same oracle."""
    from .operators.asof import asof_join

    quotes, trades = _quotes_trades(spark, sf_dir)
    out = asof_join(
        quotes, trades, on=["user_id"], time_x="ts_us", time_i="ts_us",
        roll="nearest", n_chunks=4,
    )
    return out.df.withColumnRenamed("ts_us_x", "quote_ts")


@query("frank_chunked", None)
def q_frank_chunked(spark, sf_dir):
    """frank_ties through the rank chunk-stitch (n_chunks=4):
    per-(key, value-chunk) ranks + spine offsets (cumulative rows;
    cumulative distinct groups for dense) — the hot-key posture for
    ranking; output identical to the unsplit plan, same oracle."""
    from .operators.window import frank

    t = load_tables(spark, sf_dir)
    out = frank(
        t["lineitem"], "l_quantity", ties="average", by=["l_returnflag"],
        n_chunks=4,
    )
    out = frank(
        out, "l_quantity", ties="dense", by=["l_returnflag"],
        out_col="drank", n_chunks=4,
    )
    return out.query(j=["l_orderkey", "l_linenumber", "rank", "drank"]).df


@query("rleid_chunked", None)
def q_rleid_chunked(spark, sf_dir):
    """rleid_runs through the run chunk-stitch (n_chunks=4): per-(key,
    value-chunk) run ids + spine run counts with boundary-merge
    correction — the hot-key posture for run numbering; output
    identical to the unsplit plan, same oracle."""
    from .operators.window import rleid

    t = load_tables(spark, sf_dir)
    out = rleid(t["events"], ["event_type"], by=["user_id"], n_chunks=4)
    return (
        out.query(j=["event_id", "user_id", "event_type", "rleid"])
        .df.withColumn("rleid", F.col("rleid").cast("long"))
    )


@query("froll_auto_chunks", None)
def q_froll_auto_chunks(spark, sf_dir):
    """froll_mean_sum through n_chunks="auto" (round-9 verdict item 6):
    the hottest-key probe (operators/window.py _resolve_n_chunks)
    measures max rows per user_id — far below the 1M break-even at any
    test SF — and resolves to the UNSPLIT plan; the point driver-pinned
    here is that the auto path is output-identical to the explicit
    default (same oracle as froll_mean_sum verbatim). The split branch
    of the same resolution is pinned at 2.5M rows by
    test_auto_n_chunks_heuristic."""
    from .operators.window import froll

    t = load_tables(spark, sf_dir)
    out = froll(
        t["events"], "mean", ["value"], 5, by=["user_id"], n_chunks="auto"
    )
    out = froll(out, "sum", ["value"], 5, by=["user_id"], n_chunks="auto")
    return out.query(
        j=["event_id", "user_id", "value_rollmean_5", "value_rollsum_5"]
    ).df


ORACLE["froll_chunked"] = ORACLE["froll_mean_sum"]
ORACLE["froll_auto_chunks"] = ORACLE["froll_mean_sum"]
ORACLE["asof_chunked"] = ORACLE["asof_roll_nearest"]
ORACLE["frank_chunked"] = ORACLE["frank_ties"]
ORACLE["rleid_chunked"] = ORACLE["rleid_runs"]


# Pipeline extension registrations (dedup / similarity / text analysis).
# Bottom import so the registry decorator above is defined first.
from . import queries_pipeline  # noqa: E402,F401
from . import queries_streaming  # noqa: E402,F401
from . import queries_scalar  # noqa: E402,F401
from . import queries_coverage  # noqa: E402,F401

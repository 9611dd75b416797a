"""Focused pins for the round-14 optimization restructures.

Each optimization kept the operator's OUTPUT identical while changing
how Spark materializes shared subtrees (exchange anchors / lazy
localCheckpoints). These tests pin the edge
semantics the equivalence arguments relied on, so a future refactor
cannot silently change them:

- null doc_id rows can never produce pairs / duplicated spans, so the
  pre-anchor isnotnull filters are output-invariant;
- `_dup_gram_set`'s general (min_df > 2) path counts DOCUMENTS (a null
  id is not a document);
- line_dedup keeps null lines and never flags them boilerplate;
- the struct-min encoding in `_dup_gram_set` equals the bare min/max
  encoding it replaced.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_span_profile_null_docid_rows_pass_through(spark):
    """A null-doc_id document still appears in the output (via the toks
    left side) with dup_tokens 0, and does not affect other documents'
    duplicated spans — the invariance the pre-anchor filter rests on."""
    from data_table_spark.pipeline.dedup import dup_span_profile

    base = "a b c d e f g h"
    rows = [(1, base), (2, base), (None, base)]
    out = {
        r["doc_id"]: r
        for r in dup_span_profile(_docs(spark, rows), n=5, min_df=2).collect()
    }
    assert set(out) == {1, 2, None}
    # docs 1 and 2 share every 5-gram: fully duplicated
    assert out[1]["dup_tokens"] == 8 and out[2]["dup_tokens"] == 8
    # the null-id doc is reported but never enters the hits path
    assert out[None]["dup_tokens"] == 0 and out[None]["n_tokens"] == 8


def test_dup_gram_set_general_path_counts_documents(spark):
    """min_df=3: a gram held by 2 real docs + 1 null-id doc is NOT
    duplicated — df counts distinct DOCUMENTS (count('doc_id') skips
    null), the semantics that make the notnull pre-filter exact."""
    from data_table_spark.pipeline.dedup import (
        _dup_gram_set,
        positional_ngrams,
    )

    base = "a b c d e"
    rows = [(1, base), (2, base), (None, base)]
    pg = positional_ngrams(_docs(spark, rows), n=5)
    assert _dup_gram_set(pg, min_df=3, max_df=None).count() == 0
    # and with three real holders it IS duplicated
    pg3 = positional_ngrams(_docs(spark, [(1, base), (2, base), (3, base)]), 5)
    assert _dup_gram_set(pg3, min_df=3, max_df=None).count() == 1


def test_dup_gram_set_structmin_equals_bare_minmax(spark):
    """The struct-min encoding (column-consumption symmetry device)
    selects exactly the grams the bare min!=max encoding did."""
    from data_table_spark.pipeline.dedup import (
        _dup_gram_set,
        positional_ngrams,
    )

    rows = [
        (10, "x y z w v u"),
        (11, "x y z w v q"),
        (12, "lone words here only once seen"),
    ]
    pg = positional_ngrams(_docs(spark, rows), n=5)
    got = {r["g"] for r in _dup_gram_set(pg, 2, None).collect()}
    bare = {
        r["g"]
        for r in pg.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .collect()
    }
    assert got == bare == {"x y z w v"}


def test_line_dedup_null_lines_kept_and_never_boilerplate(spark):
    """Null lines ride through line_dedup exactly as before the
    checkpoint restructure: counted kept, never flagged, skipped by
    array_join in the reassembled text."""
    from data_table_spark.pipeline.dedup import line_dedup

    rows = [
        (1, 0, "chrome line"), (1, 1, None), (1, 2, "body one"),
        (2, 0, "chrome line"), (2, 1, None),
        (3, 0, "chrome line"),
    ]
    lines = spark.createDataFrame(
        rows, "doc_id long, line_no int, line string"
    )
    out = {r["doc_id"]: r for r in line_dedup(lines, max_df=2).collect()}
    # "chrome line" appears in 3 docs -> boilerplate; nulls kept
    assert out[1]["dropped_lines"] == 1 and out[1]["kept_lines"] == 2
    assert out[1]["text_clean"] == "body one"
    assert out[2]["dropped_lines"] == 1 and out[2]["kept_lines"] == 1
    assert out[2]["text_clean"] == ""


def test_minhash_null_docid_invariance(spark):
    """Adding a null-doc_id document changes no emitted pair — the
    invariance the shingle-table pre-filter rests on."""
    from data_table_spark.pipeline.dedup import minhash_lsh_pairs

    text_a = " ".join(f"w{i}" for i in range(40))
    text_b = " ".join(f"w{i}" for i in range(39)) + " zz"
    clean = [(1, text_a), (2, text_b), (3, "other words entirely here now")]
    with_null = clean + [(None, text_a)]
    p1 = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(_docs(spark, clean), 0.8).collect()
    }
    p2 = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(_docs(spark, with_null), 0.8).collect()
    }
    assert p1 == p2 == {(1, 2)}


def test_word_shingles_nonempty_iff_token_count(spark):
    """Pins the stream_neardup_screen pre-filter rewrite: the pushed
    predicate `size(tokens) >= n` admits EXACTLY the rows the old
    post-shingle `size(sh) > 0` filter admitted — word_shingles is
    empty iff the doc has fewer than n tokens (null/empty text rows
    fail both forms)."""
    from data_table_spark.pipeline.text import tokens_col, word_shingles

    n = 3
    rows = [
        (1, "a b c d"),      # > n tokens
        (2, "a b c"),        # exactly n
        (3, "a b"),          # n - 1
        (4, ""),             # empty text
        (5, None),           # null text
        (6, "   a   b   c   "),  # padded whitespace, exactly n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = tokens_col("text")
    old = {
        r.doc_id
        for r in df.select(
            "doc_id", word_shingles(toks, n).alias("sh")
        ).filter(F.size("sh") > 0).collect()
    }
    new = {
        r.doc_id
        for r in df.filter(F.size(toks) >= F.lit(n)).collect()
    }
    assert old == new == {1, 2, 6}


def test_cogroup_arrow_query_fn_matches_pandas_twin(spark):
    """Pins the q_cogroup pandas->Arrow switch: the Arrow per-key fn
    (pyarrow Tables, Python-Decimal spend sum) emits the SAME rows as
    the pandas form it replaced, including the customer-with-no-orders
    and orders-with-no-customer key shapes."""
    from decimal import Decimal

    import pandas as pd
    import pyarrow as pa

    from data_table_spark.operators.grouping import (
        cogroup_apply,
        cogroup_apply_arrow,
    )
    from data_table_spark.core import as_data_table

    cust = as_data_table(
        spark.createDataFrame(
            [(1, "AUTO"), (2, "BLDG"), (3, "MACH")],
            "custkey long, c_mktsegment string",
        )
    )
    orders = as_data_table(
        spark.createDataFrame(
            [(1, 10.1234), (1, 20.5), (3, 0.0001), (9, 5.0)],
            "custkey long, o_totalprice double",
        )
    )
    schema = (
        "custkey bigint, segment string, n_orders bigint,"
        " total_spend double"
    )

    def fn_pd(key, cp, op):
        if len(cp) == 0:
            return pd.DataFrame(
                columns=["custkey", "segment", "n_orders", "total_spend"]
            )
        spend = sum(
            (Decimal(str(round(v, 4))) for v in op["o_totalprice"]),
            Decimal(0),
        )
        return pd.DataFrame(
            {
                "custkey": [key[0]],
                "segment": [cp["c_mktsegment"].iloc[0]],
                "n_orders": [len(op)],
                "total_spend": [float(spend)],
            }
        )

    empty = pa.table(
        {
            "custkey": pa.array([], pa.int64()),
            "segment": pa.array([], pa.string()),
            "n_orders": pa.array([], pa.int64()),
            "total_spend": pa.array([], pa.float64()),
        }
    )

    def fn_pa(key, ct, ot):
        if ct.num_rows == 0:
            return empty
        spend = sum(
            (
                Decimal(str(round(v, 4)))
                for v in ot.column("o_totalprice").to_pylist()
            ),
            Decimal(0),
        )
        return pa.table(
            {
                "custkey": pa.array(
                    [ct.column("custkey")[0].as_py()], pa.int64()
                ),
                "segment": pa.array(
                    [ct.column("c_mktsegment")[0].as_py()], pa.string()
                ),
                "n_orders": pa.array([ot.num_rows], pa.int64()),
                "total_spend": pa.array([float(spend)], pa.float64()),
            }
        )

    a = sorted(
        map(tuple, cogroup_apply(cust, orders, ["custkey"], fn_pd, schema).collect())
    )
    b = sorted(
        map(
            tuple,
            cogroup_apply_arrow(cust, orders, ["custkey"], fn_pa, schema).collect(),
        )
    )
    assert a == b
    assert [r[0] for r in b] == [1, 2, 3]  # custkey 9 has no customer row

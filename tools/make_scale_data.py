"""Synthetic scale-up of the driver testdata for stress runs ABOVE the
largest generated SF (the driver ships sf0.001/0.01/0.1; the 100 TB
argument wants at least one dynamic point past sf0.1).

K disjoint copies of each fact table are unioned with per-copy key
offsets (stride = max(key)+1), so join fan-out, group counts, and
window partition counts all scale by K while per-key row counts stay
realistic — the shape that matters for shuffle/window scaling. Copy 0
is byte-identical to the source, so fixed-id probes (ANN query ids,
event contracts) keep working.

Two tables get extra treatment so the SCALED workload keeps the source
workload's characteristics instead of degenerating:

- documents: each copy's text is a deterministic per-copy word
  permutation (sort words by md5(word:pos:copy)). Plain replication
  would make every doc a 10-way near-duplicate and blow the candidate
  space of every similarity query quadratically — that would measure a
  different (near-dup-saturated) workload, not a bigger one.
- embeddings: each copy adds a small deterministic per-copy/-component
  epsilon, avoiding K-way identical vectors in every LSH bucket for
  the same reason.

region/nation stay single-copy (fixed-size dims, as in TPC-H).

Usage: python tools/make_scale_data.py <K> <out_dir> [src_dir]
e.g.   python tools/make_scale_data.py 10 .tmp/sf1
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, functions as F

FACT_KEYS = {
    # table -> {column: stride-group}; columns in the same group share a
    # stride so cross-table references stay consistent
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"event_id": "ev", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}

DIMS = ["region", "nation"]

_SHUFFLE_TEXT = (
    "array_join(transform(array_sort(transform("
    "  split(text, ' '), (w, p) -> struct(md5(concat(w, ':', p, ':', _copy))"
    "    AS k, w AS w))), s -> s.w), ' ')"
)

_PERTURB_VEC = (
    "transform(embedding, (x, j) ->"
    " cast(x + _copy * 0.001 * cast(j % 7 - 3 as float) as float))"
)


def main() -> None:
    k = int(sys.argv[1])
    out_dir = sys.argv[2]
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from data_table_spark import get_spark

    spark = get_spark("make-scale-data")
    spark.sparkContext.setLogLevel("ERROR")

    strides: dict[str, int] = {}

    def stride(group: str, df: DataFrame, col: str) -> int:
        if group not in strides:
            strides[group] = int(df.agg(F.max(col)).first()[0]) + 1
        return strides[group]

    for t in DIMS:
        spark.read.parquet(f"{src}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: dim copied")

    for t, keys in FACT_KEYS.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        # ONE scan x broadcast copies frame, offsets from the copy
        # index — a K-way union's logical plan is O(K) branches and
        # Catalyst analysis grinds to a halt near K=1000; this form is
        # O(1) plan size for any K and produces IDENTICAL values
        # (same per-copy offset/permutation/perturbation formulas)
        # parallelize the expansion: the small source arrives in a few
        # partitions, and the crossJoin multiplies rows INSIDE each —
        # repartition the source FIRST so K-fold row generation runs
        # wide, not 3 tasks deep
        copies = spark.range(k).select(F.col("id").alias("_copy"))
        c = df.repartition(64).crossJoin(F.broadcast(copies))
        for col, group in keys.items():
            c = c.withColumn(
                col,
                F.col(col) + F.col("_copy") * F.lit(stride(group, df, col)),
            )
        if t == "documents":
            c = c.withColumn(
                "text",
                F.when(F.col("_copy") == 0, F.col("text")).otherwise(
                    F.expr(_SHUFFLE_TEXT)
                ),
            ).withColumn("n_chars", F.length("text").cast("long"))
        if t == "embeddings":
            c = c.withColumn(
                "embedding",
                F.when(F.col("_copy") == 0, F.col("embedding")).otherwise(
                    F.expr(_PERTURB_VEC)
                ),
            )
        # output files = the 64 expansion partitions; no second shuffle
        c.drop("_copy").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"{t}: {n} rows ({k}x)")


if __name__ == "__main__":
    main()

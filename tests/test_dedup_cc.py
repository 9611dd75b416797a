"""Connected components behind dedup_clusters (`cc_star_labels`).

- Round shape: the window-min star steps, single end-of-round distinct
  and lazy per-round cut give the same labels and round count as the
  r14 groupBy+join+double-distinct form, on an adversarial edge list.
- Memory: each round's edge cut is released once the next round's has
  been materialized, so a long chain leaves one cut pinned, not one
  per round.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _r14_cc_star_labels(edges, max_iter=50):
    """The pre-r15 cc_star_labels round, verbatim (groupBy+join star
    steps, intermediate distincts, eager localCheckpoint + separate
    signature job) — the equivalence reference."""
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1000003))).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev:
            break
        prev = sig
    labels = e.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("doc_id"), "cluster_id"
    )
    return labels, rounds


def _adversarial_edges(spark):
    """Chain (diameter stress), star, clique, duplicate + reversed
    edges, a self-loop, and a detached triangle-ish tail."""
    edges = []
    edges += [(i, i + 1) for i in range(1, 60)]
    edges += [(100, 100 + i) for i in range(1, 20)]
    edges += [
        (200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)
    ]
    edges += [(2, 1), (1, 2), (300, 300)]
    edges += [(400, 500), (500, 400), (401, 400)]
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_cc_star_round_shape_equivalence(spark):
    from data_table_spark.pipeline.dedup import cc_star_labels

    # Both forms pin their cuts with localCheckpoint; free them at the
    # end so no later test in the session inherits persisted RDDs.
    jsc = spark.sparkContext._jsc
    before = _persisted(spark)
    try:
        e = _adversarial_edges(spark)
        new_lbl, new_rounds = cc_star_labels(e)
        old_lbl, old_rounds = _r14_cc_star_labels(e)
        got = sorted((r["doc_id"], r["cluster_id"]) for r in new_lbl.collect())
        want = sorted((r["doc_id"], r["cluster_id"]) for r in old_lbl.collect())
        assert got == want
        assert new_rounds == old_rounds
    finally:
        rdds = jsc.getPersistentRDDs()
        for rid in _persisted(spark) - before:
            rdds.get(rid).unpersist(True)


def test_cc_star_releases_superseded_rounds(spark):
    """A 200-node chain takes 9 rounds and cuts the edge list 10 times.
    Inside a query_scope, at most one of those cuts (the last one, which
    the labels read) is still persisted after the labels are collected."""
    from perfbench.probes import SparkProbe

    from data_table_spark.core import query_scope
    from data_table_spark.pipeline.dedup import cc_star_labels

    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    probe = SparkProbe(spark)
    with query_scope() as pinned:
        before = probe.persisted_rdds()
        labels, rounds = cc_star_labels(chain)
        got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        left = probe.persisted_rdds() - before
        n_pinned = len(pinned)
    assert got == {i: 0 for i in range(1, n)}
    assert rounds > 1
    assert left <= 1, left
    assert n_pinned <= 1, n_pinned

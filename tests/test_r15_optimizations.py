"""Equivalence pins for the round-15 optimizations.

Every change this round is required to keep each declared query's
result bit-identical; these tests pin the restructured internals
directly (the oracle sweep pins the declared outputs end to end;
the cc_star_labels round-shape pin lives in test_dedup_cc.py,
the scan-parallel copy pin in test_measure_core.py and the
checkpoint-location pin in test_streaming_runner.py):

- semdedup_prune semi-join dup detection (EXISTS form) vs the pair
  enumeration it replaced — same dropped set for uncapped and both
  capped shapes (r14-tree goldens at sf0.001/sf0.01 captured before
  the change).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


# dropped (NOT-kept) vec_id sets captured from the r14 tree (pair-
# enumeration + distinct form) BEFORE the semi-join change — the
# regression pin for the EXISTS rewrite. Keyed by (sf, max_cluster_n).
_SEMDEDUP_DROPPED_R14 = {
    ("sf0.001", None): [237, 358],
    ("sf0.001", 4): [237, 358],
    ("sf0.001", 64): [237, 358],
    ("sf0.01", None): [256, 287, 301, 324, 325, 340, 388, 438, 466],
    ("sf0.01", 4): [256, 287, 301, 340, 388, 466],
    ("sf0.01", 64): [256, 287, 301, 324, 325, 340, 388, 438, 466],
}


@pytest.mark.parametrize("cap", [None, 4, 64])
def test_semdedup_semi_matches_pair_form(spark, cap):
    from data_table_spark import load_tables
    from data_table_spark.pipeline.similarity import semdedup_prune

    sf = os.path.basename(SF_DIR.rstrip("/"))
    key = (sf, cap)
    if key not in _SEMDEDUP_DROPPED_R14:
        pytest.skip(f"no r14 golden for {key}")
    t = load_tables(spark, SF_DIR)
    out = semdedup_prune(t["embeddings"].df, k=8, n_iter=2,
                         max_cluster_n=cap)
    dropped = sorted(
        r["vec_id"] for r in out.filter(~F.col("kept")).collect()
    )
    assert dropped == _SEMDEDUP_DROPPED_R14[key]
    # and every vec_id appears exactly once (the left join must not
    # fan out)
    assert out.count() == t["embeddings"].df.count()


def test_jaccard_prefix_local_verify_matches_bruteforce(spark, tables):
    """jaccard_prefix_pairs r15 verification rewrite (array_intersect
    on per-doc sorted shingle arrays instead of the relational
    explode-join-aggregate): pin the END-TO-END output against an
    independent brute-force all-pairs jaccard over the same shingle
    sets, including bit-identical doubles (|A∩B| is the same exact
    integer either way, so the one division must agree exactly)."""
    from data_table_spark.pipeline.dedup import (
        jaccard_prefix_pairs, shingle_rows,
    )

    docs = tables["documents"].df
    got = sorted(
        map(tuple, jaccard_prefix_pairs(docs, 0.8, 3).collect())
    )

    sets: dict = {}
    for doc_id, s in shingle_rows(
        docs.filter(F.col("doc_id").isNotNull()), 3
    ).collect():
        sets.setdefault(doc_id, set()).add(s)
    ids = sorted(sets)
    exp = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = float(inter) / float(len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.8:
                exp.append((a, b, j))
    assert got == sorted(exp)

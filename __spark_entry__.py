"""Driver contract for the spark-graft builder (PySpark target).

Each entry in ``queries()`` exercises one operator family from SURVEY.md §2
through the data_table_spark API; ``oracle_sql()`` holds the DuckDB-
runnable ANSI-SQL equivalent. Aggregates over doubles are cast to
DECIMAL(18,4) (a few sites use scale 2 or 6) before summation in BOTH
engines: decimal addition is order-independent and exact, so the
value-hash comparison is immune to float summation-order differences
between Spark partial aggregation and DuckDB, then cast back to DOUBLE
for a common output schema. Both halves live in data_table_spark/exact.py.
Its oracle half does not use DuckDB 1.0.0's own casts, which differ from
Spark's twice: the addend cast scales the binary double (Spark rounds
HALF_UP on Double.toString, so 1314.51625 is .5163, not .5162), and the
back cast goes through a double, inexact once |sum| * 10^4 > 2^53
(9.007e11). With both matched, the only limit is the per-addend cap
|x| < 10^14, at which both engines raise.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from data_table_spark.queries import QUERIES, ORACLE


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped GForce aggregate) on sf0.001."""
    return QUERIES["gforce_q1"](spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks the FIRST 50 registration-order
# entries. The window is DERIVED, not hand-picked — run
#   python tools/rotate_window.py --new <added-or-changed-queries>
# and paste its output VERBATIM (including both histograms; the r6 and
# r8 rounds each got a hand-computed freshness number wrong, so the
# tool now prints the post-window histogram too and prose quotes only
# tool output).
#
# Round-15 window = rotate_window.py output for --new = the 26 queries
# whose internals changed this optimization round (jaccard_prefix_pairs
# local verification; the cc_star_labels fused-round consumers —
# dedup_clusters family, split_leakfree, embedding_dup_clusters,
# curation pipelines; semdedup_prune/_capped semi-join form; every
# streaming query — checkpoint relocation + hygiene). Fill = the
# 24 stalest rows (r10 latest evidence — the VERDICT r14 item-8
# re-sampling of rows whose driver ground truth aged out).
# Tool output:
#
# # latest-evidence histogram (0 = never driver-checked):
# #   r10: 25
# #   r11: 40
# #   r12: 34
# #   r13: 49
# #   r14: 50
# # window covers 50 slots; oldest row left outside: r11
# # POST-window histogram (window rows counted as r15):
# #   r11: 30
# #   r12: 31
# #   r13: 44
# #   r14: 43
# #   r15: 50
_PRIORITY = [
    "jaccard_prefix_pairs",  # new
    "curation_pipeline",  # new
    "dedup_cluster_sizes",  # new
    "dedup_clusters",  # new
    "dedup_keep_best",  # new
    "embedding_dup_clusters",  # new
    "semdedup_prune",  # new
    "semdedup_prune_capped",  # new
    "split_leakfree",  # new
    "stream_asof_enrich",  # new
    "stream_decontaminate",  # new
    "stream_dedup",  # new
    "stream_neardup_screen",  # new
    "stream_session_agg",  # new
    "stream_session_dynamic",  # new
    "stream_sliding_agg",  # new
    "stream_span_screen",  # new
    "stream_stateful_stats",  # new
    "stream_static_join",  # new
    "stream_stream_full_join",  # new
    "stream_stream_join",  # new
    "stream_stream_left_join",  # new
    "stream_stream_right_join",  # new
    "stream_tumbling_agg",  # new
    "web_curation_pipeline",  # new
    "eachi_join_agg",  # r10
    "embedding_centroids",  # r10
    "foverlaps_end",  # r10
    "foverlaps_equal",  # r10
    "froll_adaptive_median",  # r10
    "froll_adaptive_sum",  # r10
    "frollapply_corr",  # r10
    "frollapply_median",  # r10
    "fsetequal_check",  # r10
    "funnel_stages",  # r10
    "gforce_q1",  # r10
    "ivf_ann_topk",  # r10
    "jsonl_roundtrip",  # r10
    "line_dedup_boilerplate",  # r10
    "melt_narm",  # r10
    "minhash_lsh_pairs",  # r10
    "time_parts",  # r10
    "transpose_small",  # r10
    "vecseq_expand",  # r10
    "vocab_topk",  # r10
    "asof_chunked",  # r11
    "cbindlist_zip",  # r11
    "cj_cross",  # r11
]

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {name: QUERIES[name] for name in _PRIORITY if name in QUERIES}
    for name, fn in QUERIES.items():
        if name not in ordered:
            ordered[name] = fn
    return ordered


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)

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
# Current window = rotate_window.py output for --new = the 7 chunk-stitch
# queries whose internals changed when the ordered operators moved onto
# one chunk assignment, one carry spine and one tie ranker (froll,
# asof, frank, rleid, auto-chunked froll, frolladaptive and frollapply
# twins). Fill = the stalest rows (r11/r12 latest evidence).
# Tool output:
#
# # latest-evidence histogram (0 = never driver-checked):
# #   r11: 30
# #   r12: 31
# #   r13: 44
# #   r14: 43
# #   r15: 48
# # window covers 50 slots; oldest row left outside: r12
# # POST-window histogram (window rows counted as r16):
# #   r12: 13
# #   r13: 43
# #   r14: 43
# #   r15: 47
# #   r16: 50
_PRIORITY = [
    "froll_chunked",  # new
    "asof_chunked",  # new
    "frank_chunked",  # new
    "rleid_chunked",  # new
    "froll_auto_chunks",  # new
    "froll_adaptive_chunked",  # new
    "frollapply_chunked",  # new
    "cube_agg",  # r11
    "date_parts",  # r11
    "dcast_drop_false",  # r11
    "dcast_multi_agg",  # r11
    "dcast_pivot",  # r11
    "dedup_exact",  # r11
    "epoch_upsample",  # r11
    "fdistinct_last",  # r11
    "filter_between",  # r11
    "filter_chin",  # r11
    "filter_like",  # r11
    "filter_notin",  # r11
    "filter_scan",  # r11
    "foverlaps_any",  # r11
    "na_omit_cols",  # r11
    "orc_roundtrip",  # r11
    "pii_scrub",  # r11
    "rowid_counter",  # r11
    "setindex_bucketed",  # r11
    "sketch_quantiles",  # r11
    "sq8_ann_topk",  # r11
    "tfidf_keywords",  # r11
    "udtf_chunk_lateral",  # r11
    "which_rows",  # r11
    "winnow_dup_pairs",  # r11
    "ann_cosine_topk",  # r12
    "cogroup_udtf",  # r12
    "composite_pipeline",  # r12
    "date_round",  # r12
    "dcast_margins",  # r12
    "decontaminate_bloom",  # r12
    "decontaminate_ngrams",  # r12
    "foverlaps_start",  # r12
    "foverlaps_within",  # r12
    "froll_narm",  # r12
    "funion_all",  # r12
    "gforce_minmax_firstlast",  # r12
    "gforce_var_sd",  # r12
    "groupingsets_agg",  # r12
    "inrange_semi",  # r12
    "let_by_group",  # r12
    "melt_multi_measure",  # r12
    "melt_unpivot",  # r12
]

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {name: QUERIES[name] for name in _PRIORITY if name in QUERIES}
    for name, fn in QUERIES.items():
        if name not in ordered:
            ordered[name] = fn
    return ordered


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)

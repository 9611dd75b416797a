"""Physical-plan audit: sweep every registered batch query, extract the
scale-relevant facts from `explain("formatted")`, and flag anti-patterns.

Checks per query:
- cartesian: CartesianProduct / BroadcastNestedLoopJoin present
  (expected only for declared all-pairs ops: cj_cross, nonequi,
  foverlaps-family, cosine pairs/topk)
- pushdown: at least one scan has PushedFilters when the plan filters
- n_exchange: shuffle count (lower = better; AQE may coalesce at run)
- joins: join strategies chosen

Usage: python tools/plan_audit.py [sf_dir] [--md > SCALE_AUDIT.md]
"""

from __future__ import annotations

import contextlib
import io
import re
import sys

sys.path.insert(0, ".")

EXPECT_NESTED_LOOP = {
    # declared pair-generation / range ops where a non-equi or cross
    # join is the semantics (guarded small side or blocked candidates)
    "cj_cross", "nonequi_join", "foverlaps_any", "foverlaps_within",
    "inrange_semi", "ann_cosine_topk",
    "asof_roll_forward", "asof_roll_backward", "asof_roll_limit",
    "asof_roll_nearest", "vecseq_expand",
    # drop=FALSE CJ of per-rowvar level frames (tiny, broadcast)
    "dcast_drop_false",
    # ANN recall contracts combine three SINGLE-ROW aggregates with
    # crossJoin (1x1 rows by construction) — the candidate generation
    # itself is bucketed equi-join, audited via the underlying ops
    "embedding_lsh_pairs", "lsh_ann_topk", "ivf_ann_topk",
    "sq8_ann_topk", "pq_ann_topk", "ivfpq_ann_topk",
    # BM25 / tf-idf: corpus stats (N, Σdl, df_t) are ONE aggregated row
    # crossJoin-broadcast back to the per-doc / per-term frame
    "bm25_topk", "tfidf_keywords",
    # same 1-row-stats shape: vocabulary size V (bigram LM) / corpus
    # total (mixture plan table) are single-row aggregates
    # crossJoin-broadcast back; all other joins are equi-joins
    "bigram_lm_score", "mixture_sample", "token_mixture_sample",
    # Lloyd's k-means: the centroid set is packed into ONE row and
    # crossJoin-broadcast so assignment is a per-row projection (zero
    # corpus shuffle); semdedup's pair join itself is equi on cluster_id
    "kmeans_clusters", "semdedup_prune",
    # capped variant: same 1-row centroid-pack crossJoin, plus the
    # subset/recall CONTRACT combining three single-row aggregates
    # (1x1 crossJoins, same shape as the ANN recall rows above); the
    # pair joins themselves stay equi on (cluster_id, sub-bucket)
    "semdedup_prune_capped",
    # DSIR: the R/T gram totals are a 1x1-row crossJoin broadcast (the
    # tiny-stats idiom); scoring joins are equi on the hash bucket
    "dsir_select",
    # Bloom decontamination: the packed bitmap is ONE broadcast row
    # crossJoined to the corpus probe; the verify join is equi on gram
    "decontaminate_bloom",
    # Count-Min heavy hitters: the packed d*w counter array and the
    # N total are 1-row broadcast crossJoins; no pair-space join exists
    "heavy_hitters_cm",
}

SKIP = {  # fread writes files
    # (every "stream_*" query is also skipped, by prefix, below:
    # streaming queries execute eagerly into a memory sink during
    # construction, and the sink table's plan is not the query's)
    "fread_fwrite_roundtrip",
    # writes bucketed tables; its exchange-elision contract is asserted
    # directly by tests/test_api_unit.py::test_setindex_bucketed_elides_exchange
    "setindex_bucketed",
    # the iterative star-contraction CC executes during construction
    # (one convergence collect per round); the interesting plans are the pair
    # generators, audited under their own names
    "dedup_clusters", "embedding_dup_clusters", "dedup_keep_best",
    "curation_pipeline",
}


def audit(sf_dir: str = "/root/testdata/sf0.01"):
    from data_table_spark import get_spark
    from data_table_spark.queries import QUERIES

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in sorted(QUERIES.items()):
        if name in SKIP or name.startswith("stream_"):
            continue
        df = fn(spark, sf_dir)
        sdf = df.df if hasattr(df, "df") else df
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            sdf.explain("formatted")
        plan = buf.getvalue()
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        n_bcast = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        joins = sorted(
            set(re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)", plan))
        )
        nested = any(
            j in ("BroadcastNestedLoopJoin", "CartesianProduct")
            for j in joins
        )
        pushed = "PushedFilters: [" in plan and not re.search(
            r"PushedFilters: \[\]", plan.split("PushedFilters")[1][:100]
        )
        flag = ""
        if nested and name not in EXPECT_NESTED_LOOP:
            flag = "UNEXPECTED-NESTED-LOOP"
        rows.append((name, f"{n_exchange}+{n_bcast}b",
                     ",".join(joins) or "-",
                     "y" if pushed else "-", flag))
    return rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rows = audit(sf_dir)
    print(f"| query | exchanges | joins | pushdown | flag |")
    print("|---|---|---|---|---|")
    bad = 0
    for r in rows:
        print("| " + " | ".join(str(x) for x in r) + " |")
        if r[-1]:
            bad += 1
    print(f"\n{len(rows)} plans audited, {bad} flagged", file=sys.stderr)


if __name__ == "__main__":
    main()

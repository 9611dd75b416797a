"""Pipeline-operator query registrations (dedup / similarity / text).

Oracle-portability rules used throughout (see pipeline/__init__.py):
exact integer counts with ONE final division; md5 for content hashes
(bit-identical across engines); scores rounded to 4 decimals in both
engines; thresholds chosen in measured gaps of the score distribution so
float drift cannot flip membership.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import load_tables, materialize
from .exact import sql_dsum, sql_round
from .queries import query
from .pipeline import (
    dedup_exact,
    ngram_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    cosine_topk,
    cosine_pairs,
    lsh_ann_topk,
    lang_id,
    text_quality,
    token_counts,
    doc_fingerprint,
)

# Shared DuckDB CTE fragments -------------------------------------------

_SQL_TOKS = (
    "SELECT doc_id, lang, text,"
    " regexp_split_to_array(trim(text), ' +') AS toks FROM documents"
)

_SQL_SHINGLES = """
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks)-1)])
         ELSE [] END AS shingles
  FROM toks
"""

_SQL_JACCARD_EXACT = f"""
    WITH toks AS ({_SQL_TOKS}),
    sh AS ({_SQL_SHINGLES}),
    sz AS (SELECT doc_id, shingles, len(shingles) AS sz FROM sh),
    ex AS (SELECT doc_id, sz, unnest(shingles) AS s FROM sz),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sz AS sa, b.sz AS sb, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard
    FROM p
    WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.8
"""


# §pipeline: deduplication ----------------------------------------------

@query(
    "dedup_exact",
    "SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: min-id per distinct text (hash shuffle of distinct
    values only; map-side combine)."""
    t = load_tables(spark, sf_dir)
    return dedup_exact(t["documents"].df, ["text"], "doc_id")


@query("ngram_jaccard_pairs", _SQL_JACCARD_EXACT)
def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard >= 0.8 via shared-shingle blocking
    (set-similarity join; no cross join)."""
    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(t["documents"].df, threshold=0.8)


_SQL_DUP_SPANS = f"""
    WITH toks AS ({_SQL_TOKS}),
    pg AS (
      SELECT doc_id,
             unnest(range(0, len(toks) - 4)) AS pos,
             unnest([array_to_string(toks[i:i+4], ' ')
                     for i in range(1, len(toks) - 3)]) AS g
      FROM toks WHERE len(toks) >= 5
    ),
    dup AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS df FROM pg GROUP BY g
      ) WHERE df >= 2
    ),
    m AS (SELECT doc_id, pos FROM pg JOIN dup USING (g)),
    sw AS (
      SELECT doc_id, pos,
             MAX(pos + 5) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_e
      FROM m
    ),
    cov AS (
      SELECT doc_id,
             SUM(GREATEST(0, (pos + 5)
                 - GREATEST(pos, COALESCE(prev_e, pos)))) AS dup_tokens
      FROM sw GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / len(toks)
             AS dup_frac
    FROM toks t LEFT JOIN cov ON t.doc_id = cov.doc_id
"""


@query("dup_ngram_spans", _SQL_DUP_SPANS)
def q_dup_ngram_spans(spark, sf_dir):
    """Duplicated-span profile per document: fraction of token positions
    covered by a word-5-gram occurring in >= 2 distinct documents — the
    bounded-width form of exact substring dedup (Lee et al. 2021).
    Shuffles on the gram, running-frame interval-union sweep."""
    from .pipeline import dup_span_profile

    t = load_tables(spark, sf_dir)
    return dup_span_profile(t["documents"].df, n=5, min_df=2)


_SQL_DUP_SPAN_REMOVE = f"""
    WITH toks AS ({_SQL_TOKS}),
    tok AS (
      SELECT doc_id,
             unnest(range(0, len(toks))) AS pos,
             unnest(toks) AS tok
      FROM toks
    ),
    pg AS (
      SELECT doc_id,
             unnest(range(0, len(toks) - 4)) AS pos,
             unnest([array_to_string(toks[i:i+4], ' ')
                     for i in range(1, len(toks) - 3)]) AS g
      FROM toks WHERE len(toks) >= 5
    ),
    dup AS (
      SELECT g FROM pg GROUP BY g
      HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    m AS (SELECT doc_id, pos FROM pg JOIN dup USING (g)),
    cover AS (
      SELECT DISTINCT doc_id, pos + u AS p
      FROM m, (SELECT unnest(range(0, 5)) AS u)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok t LEFT JOIN cover c
        ON t.doc_id = c.doc_id AND t.pos = c.p
      WHERE c.doc_id IS NULL
    ),
    asm AS (
      SELECT doc_id,
             COUNT(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(asm.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           COALESCE(asm.text_clean, '') AS text_clean
    FROM toks t LEFT JOIN asm ON t.doc_id = asm.doc_id
"""


_SQL_DUP_SPAN_KEEPFIRST = _SQL_DUP_SPAN_REMOVE.replace(
    """    dup AS (
      SELECT g FROM pg GROUP BY g
      HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    m AS (SELECT doc_id, pos FROM pg JOIN dup USING (g)),""",
    """    dup AS (
      SELECT g, MIN(doc_id) AS lo FROM pg GROUP BY g
      HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    m AS (SELECT doc_id, pos FROM pg JOIN dup USING (g)
          WHERE doc_id <> lo),""",
)
assert _SQL_DUP_SPAN_KEEPFIRST != _SQL_DUP_SPAN_REMOVE


@query("dup_span_removal_keepfirst", _SQL_DUP_SPAN_KEEPFIRST)
def q_dup_span_removal_keepfirst(spark, sf_dir):
    """Keep-one span removal (Lee et al. 2021 faithful form): the
    gram's canonical holder — its min doc_id, already computed by the
    min/max duplicate aggregate — keeps the span; every other document
    loses it."""
    from .pipeline import dedup_spans_remove

    t = load_tables(spark, sf_dir)
    return dedup_spans_remove(
        t["documents"].df, n=5, min_df=2, keep_first=True
    )


@query("dup_span_removal", _SQL_DUP_SPAN_REMOVE)
def q_dup_span_removal(spark, sf_dir):
    """The action to dup_ngram_spans' measurement: drop every token
    position covered by a cross-doc duplicated 5-gram and reassemble
    the cleaned text. Anti-join absorbs duplicate covered positions
    (no distinct); per-doc sort_array(collect_list) reassembly."""
    from .pipeline import dedup_spans_remove

    t = load_tables(spark, sf_dir)
    return dedup_spans_remove(t["documents"].df, n=5, min_df=2)




_SQL_DEDUP_CLUSTERS = f"""
    WITH RECURSIVE toks AS ({_SQL_TOKS}),
    sh AS ({_SQL_SHINGLES}),
    sz AS (SELECT doc_id, shingles, len(shingles) AS sz FROM sh),
    ex AS (SELECT doc_id, sz, unnest(shingles) AS s FROM sz),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sz AS sa, b.sz AS sb, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    prs AS (
      SELECT doc_a, doc_b FROM p
      WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.8
    ),
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION ALL
      SELECT doc_b, doc_a FROM prs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.lbl FROM reach JOIN e ON e.src = reach.node
    )
    SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
"""


_SQL_CLUSTER_SIZES = f"""
    WITH c AS ({_SQL_DEDUP_CLUSTERS}),
    per AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM c GROUP BY 1)
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM per GROUP BY cluster_size
"""


@query("dedup_cluster_sizes", _SQL_CLUSTER_SIZES)
def q_dedup_cluster_sizes(spark, sf_dir):
    """Corpus dup-profile: the cluster-SIZE histogram over the
    connected-component duplicate clusters (how many singletons, how
    many k-way dup families, how many documents they hold) — the
    report a curation run reads before choosing keep-best policy. Two
    tiny aggregations over the cluster labels; cost is the clustering
    itself."""
    from .pipeline import dedup_clusters

    t = load_tables(spark, sf_dir)
    labels = dedup_clusters(t["documents"].df, threshold=0.8)
    per = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return per.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("long")
        .alias("n_docs"),
    )


@query("dedup_clusters", _SQL_DEDUP_CLUSTERS)
def q_dedup_clusters(spark, sf_dir):
    """Connected-component duplicate clusters (transitive closure of
    the exact-Jaccard pair graph; cluster_id = min reachable doc_id =
    the canonical keeper) via Kiveris large-star/small-star alternation
    (Kiveris et al. 2014) — O(log^2 n) rounds independent of component
    diameter (a 400-node chain converges in <= ~12 alternations;
    test_cc_star_chain). Oracle replays the same closure as a DuckDB
    recursive CTE: identical components, identical min-id labels."""
    from .pipeline import dedup_clusters

    t = load_tables(spark, sf_dir)
    return dedup_clusters(t["documents"].df, threshold=0.8)


@query("minhash_lsh_pairs", _SQL_JACCARD_EXACT)
def q_minhash_lsh(spark, sf_dir):
    """MinHash(126)+LSH(21x6) candidates, exact-Jaccard-verified. Per
    true pair the miss prob is (1-j^6)^21: ~1.8e-3 at j=0.8, ~1e-7 at
    j>=0.9 — and this corpus's true pairs all sit at j>=0.9 (measured;
    nothing between 0.2 and 0.9), so oracle equality holds."""
    t = load_tables(spark, sf_dir)
    return minhash_lsh_pairs(t["documents"].df, threshold=0.8)


_SQL_SIMHASH = f"""
    WITH toks AS ({_SQL_TOKS}),
    sh AS ({_SQL_SHINGLES}),
    hs AS (
      SELECT doc_id,
             [list_sum([(strpos('0123456789abcdef', substr(md5(s), k+1, 1))
                          - 1)::BIGINT << (4*(11-k)) for k in range(0,12)]
                       )::BIGINT for s in shingles] AS hl
      FROM sh WHERE len(shingles) > 0
    ),
    sim AS (
      SELECT doc_id,
             list_sum([CASE WHEN 2*len(list_filter(hl,
                             h -> ((h >> i) & 1) = 1)) > len(hl)
                       THEN (1::BIGINT << i) ELSE 0::BIGINT END
                       for i in range(0,48)])::BIGINT AS simhash
      FROM hs
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query("simhash_pairs", _SQL_SIMHASH)
def q_simhash(spark, sf_dir):
    """48-bit md5-based SimHash, hamming<=3 pairs found exactly via
    4-band pigeonhole blocking."""
    t = load_tables(spark, sf_dir)
    out = simhash_pairs(t["documents"].df, max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


# §pipeline: similarity search ------------------------------------------

_SQL_EMB = (
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
)

_SQL_COS_TOPK = f"""
    WITH e AS ({_SQL_EMB}),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
          FROM n WHERE vec_id < 8),
    s AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             list_dot_product(qv, v) / (qn * nrm) AS cos_full
      FROM n JOIN q ON n.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_full DESC, neighbor_id) AS rank,
             cos_full
      FROM s
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           {sql_round("cos_full", 4)} AS cos
    FROM r WHERE rank <= 5
"""


@query("ann_cosine_topk", _SQL_COS_TOPK)
def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 8 broadcast query vectors: corpus
    streams once, only k rows/query shuffle to the rank window."""
    t = load_tables(spark, sf_dir)
    return cosine_topk(t["embeddings"].df, query_ids_below=8, k=5)


_SQL_COS_PAIRS = f"""
    WITH e AS ({_SQL_EMB}),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_full
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, {sql_round("cos_full", 4)} AS cos
    FROM p WHERE cos_full >= 0.4505
"""


@query("embedding_cosine_pairs", _SQL_COS_PAIRS)
def q_embedding_cosine_pairs(spark, sf_dir):
    """Embedding near-dup pairs, cosine >= 0.4505 (threshold sits in a
    measured 2e-3 gap of the sf0.01 score distribution, so float drift
    cannot flip membership). Exact, via the block-grid equi-join pair
    generator (no BroadcastNestedLoopJoin — the n²/2 comparisons shuffle-
    partition evenly over block-pair buckets)."""
    t = load_tables(spark, sf_dir)
    return cosine_pairs(t["embeddings"].df, threshold=0.4505)


_SQL_EMB_CLUSTERS = f"""
    WITH RECURSIVE e AS ({_SQL_EMB}),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4505
    ),
    ed AS (
      SELECT vec_a AS src, vec_b AS dst FROM p
      UNION ALL
      SELECT vec_b, vec_a FROM p
    ),
    reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT ed.dst, reach.lbl FROM reach JOIN ed ON ed.src = reach.node
    )
    SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
"""


@query("embedding_dup_clusters", _SQL_EMB_CLUSTERS)
def q_embedding_dup_clusters(spark, sf_dir):
    """Connected-component clusters over the embedding cosine near-dup
    graph — dedup_clusters composed with cosine_pairs (operator
    composability: any pair generator feeds the same clustering)."""
    from .pipeline import dedup_clusters

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    prs = cosine_pairs(emb, threshold=0.4505).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    out = dedup_clusters(
        emb.select(F.col("vec_id").alias("doc_id")), pairs=prs
    )
    return out.select(F.col("doc_id").alias("vec_id"), "cluster_id")


# Approximate-ANN correctness contract (VERDICT r3 item 4): an
# approximate operator can't be SQL-replayed, but its RECALL against the
# exact operator (itself driver-oracle-green: ann_cosine_topk /
# embedding_cosine_pairs) is a deterministic, hashable quantity — every
# random choice (hyperplanes) is seeded and evaluated as plan
# expressions, and the k-means indexes train on the deterministic
# Lloyd's of kmeans_assign, so the hit-count is reproducible. Each
# query below emits an aggregate row whose boolean recall/precision
# verdicts the oracle expects to be TRUE; a regression in the
# bucketing/probing machinery flips the hash.

_SQL_LSH_PAIRS_RECALL = f"""
    WITH e AS ({_SQL_EMB}),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_full
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(1 AS BOOLEAN) AS recall_ok,
           CAST(1 AS BOOLEAN) AS precision_ok
    FROM p WHERE cos_full >= 0.4505
"""


@query("embedding_lsh_pairs", _SQL_LSH_PAIRS_RECALL)
def q_embedding_lsh_pairs(spark, sf_dir):
    """Sub-quadratic embedding near-dup: hyperplane-LSH bucket equi-join
    -> exact cosine verify. The testdata's qualifying pairs sit at
    cos ≈ 0.45 (continuous distribution, no gap — see SCALE.md), so the
    parameters lean on recall: 4 planes/table (bucket-share prob 0.177
    per table at cos 0.4505) × 16 tables → per-pair recall ≈ 0.956
    (measured: 14/14 exact pairs at sf0.01, 129/136 at sf0.1). Slim
    ID-pair candidate shuffle; vectors join in only for the exact
    verification (payload discipline — see lsh_pairs). At real near-dup
    thresholds (cos ≥ 0.9) the same machinery with 8 planes × 8 tables
    is recall ~1-1e-9 AND sub-quadratic.

    Output: (n_exact_pairs, recall_ok, precision_ok) — the exact-pair
    count is recomputed Spark-side (block-grid join) AND by the oracle
    (so the two engines' exact answers must agree), recall_ok asserts
    |LSH ∩ exact| >= 0.85 · |exact|, precision_ok asserts LSH ⊆ exact
    (the bucket join verifies candidates with the same exact cosine)."""
    from .pipeline.similarity import lsh_pairs

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    # r14: `exact` (the O(n²) block-grid baseline) is consumed three
    # times (count, semi-probe, anti-probe) and `approx` (the LSH
    # candidate join) twice — and none of the duplication is exchange-
    # reusable (the probes broadcast `exact` and STREAM `approx`, the
    # counts aggregate). Both outputs are pair-sized (hundreds of
    # rows); one lazy materialization each removes whole corpus-scale
    # passes.
    approx = materialize(
        lsh_pairs(emb, threshold=0.4505, n_tables=16, n_planes=4)
    )
    exact = materialize(
        cosine_pairs(emb, threshold=0.4505).select("vec_a", "vec_b")
    )
    ex_n = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    hit_n = approx.join(exact, ["vec_a", "vec_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    bad_n = approx.join(exact, ["vec_a", "vec_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("bad")
    )
    return ex_n.crossJoin(hit_n).crossJoin(bad_n).select(
        "n_exact_pairs",
        (
            F.col("hits").cast("double")
            >= F.col("n_exact_pairs").cast("double") * F.lit(0.85)
        ).alias("recall_ok"),
        (F.col("bad") == 0).alias("precision_ok"),
    )


_SQL_ANN_RECALL = (
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,"
    " CAST(1 AS BOOLEAN) AS recall_ok"
    " FROM embeddings WHERE vec_id < 8"
)


def _ann_recall_result(approx, exact, bound: float):
    """Aggregate recall@k of an ANN result against the exact top-k:
    (n_queries, recall_ok). n_queries counts queries the ANN path
    actually answered (a broken bucket join drops queries → row-count /
    hash mismatch); recall_ok asserts total hits >= bound · |exact|.

    r14: lazy-checkpointing both inputs (each consumed twice: semi-join
    + own count) measured WORSE in the interleaved A/B (lsh_ann 1.12x,
    sq8 1.17x, ivf/pq/ivfpq flat) — the candidate pipelines end in
    small top-k tables whose recomputation is cheaper than the
    materialization barrier. Left as-is."""
    hits = approx.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    total = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        approx.agg(F.countDistinct("query_id").alias("n_queries"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("hits")))
        .crossJoin(total)
        .select(
            "n_queries",
            (
                F.col("hits").cast("double")
                >= F.col("n_exact").cast("double") * F.lit(bound)
            ).alias("recall_ok"),
        )
    )


@query("lsh_ann_topk", _SQL_ANN_RECALL)
def q_lsh_ann_topk(spark, sf_dir):
    """Random-hyperplane LSH bucketed ANN (the 100 TB shape: equi-join
    on bucket instead of cross join), recall-checked against the exact
    brute-force top-5 (`ann_cosine_topk`, driver-green). Parameters are
    recall-tuned for the testdata's low-similarity regime (16 tables ×
    4 planes, same adjustment as embedding_lsh_pairs): measured
    recall@5 = 0.925 at sf0.01; the bound asserts >= 0.7."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    approx = lsh_ann_topk(
        emb, dim=64, query_ids_below=8, k=5, n_tables=16, n_planes=4
    )
    exact = cosine_topk(emb, query_ids_below=8, k=5)
    return _ann_recall_result(approx, exact, bound=0.7)


# §pipeline: text analysis ----------------------------------------------

_STOP_EN = "'the','a','and','of','to','in','is'"
_SQL_QUALITY = f"""
    WITH toks AS ({_SQL_TOKS})
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)
        AS type_token_ratio,
      len(list_filter(toks, t -> t IN ({_STOP_EN})))::DOUBLE
        / greatest(len(toks), 1) AS stopword_ratio,
      (length(text) - (len(toks) - 1))::DOUBLE / greatest(len(toks), 1)
        AS mean_token_len,
      length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        / greatest(length(text), 1) AS alpha_ratio
    FROM toks
"""


@query("text_quality", _SQL_QUALITY)
def q_text_quality(spark, sf_dir):
    """Quality signals: token count, type-token ratio, stopword ratio,
    mean token length, alpha ratio — narrow scan, no shuffle."""
    t = load_tables(spark, sf_dir)
    return text_quality(t["documents"].df)


_SQL_LANG = f"""
    WITH toks AS ({_SQL_TOKS}),
    sc AS (
      SELECT doc_id, lang, text,
        len(list_filter(toks, t -> t IN ({_STOP_EN})))::DOUBLE
          / greatest(len(toks), 1) AS s_en,
        len(list_filter(toks, t -> t IN
          ('der','die','das','und','ist','nicht','ein')))::DOUBLE
          / greatest(len(toks), 1) AS s_de,
        len(list_filter(toks, t -> t IN
          ('le','la','les','et','est','une','des')))::DOUBLE
          / greatest(len(toks), 1) AS s_fr,
        len(list_filter(toks, t -> t IN
          ('el','la','los','que','es','una','por')))::DOUBLE
          / greatest(len(toks), 1) AS s_es
      FROM toks
    )
    SELECT doc_id, lang,
      CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
           WHEN greatest(s_de, s_fr, s_es) > s_en
                AND s_de = greatest(s_de, s_fr, s_es) THEN 'de'
           WHEN greatest(s_de, s_fr, s_es) > s_en
                AND s_fr = greatest(s_de, s_fr, s_es) THEN 'fr'
           WHEN greatest(s_de, s_fr, s_es) > s_en
                AND s_es = greatest(s_de, s_fr, s_es) THEN 'es'
           ELSE 'en' END AS lang_pred
    FROM sc
"""


@query("lang_id", _SQL_LANG)
def q_lang_id(spark, sf_dir):
    """Language-ID heuristic (charset cue + stopword-profile argmax)."""
    t = load_tables(spark, sf_dir)
    return lang_id(t["documents"].df).select("doc_id", "lang", "lang_pred")


_SQL_TOKCOUNT = """
    SELECT doc_id,
      CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
        AS n_ws_tokens,
      CAST(len(regexp_extract_all(text,
        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
"""


@query("token_counts", _SQL_TOKCOUNT)
def q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts."""
    t = load_tables(spark, sf_dir)
    return token_counts(t["documents"].df)


# BM25 oracle: mirrors pipeline.text.bm25_rank EXACTLY — same integer
# statistics, same association order in every double expression, idf
# rounded to 6 dp on both sides before use, e0-suffixed literals so
# DuckDB parses them as DOUBLE (a bare `0.5` is DECIMAL there and would
# change the arithmetic type lattice).
_BM25_TERMS = ["vector", "hash", "merge"]


def _sql_bm25(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    split = "regexp_split_to_array(trim(text), ' +')"
    tf_cols = ",\n             ".join(
        f"len(list_filter({split}, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    term_exprs = " + ".join(
        f"{sql_round(f'LN((n - df{i} + 0.5e0) / (df{i} + 0.5e0) + 1.0e0)', 6)}"
        f" * (CAST(tf{i} AS DOUBLE) * {k1p1!r}e0)"
        f" / (CAST(tf{i} AS DOUBLE) + {k1!r}e0 * ({one_minus_b!r}e0"
        f" + {b!r}e0 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))"
        for i in range(len(terms))
    )
    return f"""
    WITH d AS (
      SELECT doc_id, len({split}) AS dl,
             {tf_cols}
      FROM documents
    ),
    g AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
             {df_cols}
      FROM d
    ),
    s AS (
      SELECT doc_id, {sql_round(term_exprs, 6)} AS bm25
      FROM d CROSS JOIN g
    )
    SELECT doc_id, bm25 FROM s WHERE bm25 > 0
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """


@query("bm25_topk", _sql_bm25(_BM25_TERMS))
def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (top-20 docs for a 3-term query). One
    narrow codegen scan computes tf/dl per doc; corpus stats (N, Σdl,
    df_t) are a single 1-row aggregate broadcast back; top-k is
    TakeOrderedAndProject — no explode, no per-term shuffle, scales by
    partition count alone."""
    from .pipeline.text import bm25_rank

    t = load_tables(spark, sf_dir)
    return bm25_rank(t["documents"].df, _BM25_TERMS)


_SQL_WINNOW = """
    WITH g AS (
      SELECT doc_id, pos,
             md5(substring(text, CAST(pos AS INT), 12)) AS h
      FROM (SELECT doc_id, text,
                   unnest(range(1, len(text) - 10)) AS pos
            FROM documents)
    ),
    m AS (
      SELECT doc_id, pos, h,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wmin
      FROM g
    ),
    fp0 AS (SELECT DISTINCT doc_id, wmin AS h FROM m WHERE pos >= 8),
    keep AS (SELECT h FROM fp0 GROUP BY h HAVING COUNT(*) <= 50),
    fp AS (SELECT fp0.doc_id, fp0.h FROM fp0 JOIN keep USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 5
"""


@query("winnow_dup_pairs", _SQL_WINNOW)
def q_winnow_dup_pairs(spark, sf_dir):
    """Winnowing (MOSS) near-dup pairs: char-12-gram hashes, window-8
    local minima as fingerprints, pairs sharing >= 5, fingerprints in
    > 50 docs dropped (MOSS's over-common rule — no dup signal, df^2
    join cost). Position-robust substring detection with guaranteed
    coverage of any shared run >= k+w-1 chars; fingerprint-blocked
    join bounded at sum(min(df,50)^2), never all-pairs."""
    from .pipeline.dedup import winnow_dup_pairs

    t = load_tables(spark, sf_dir)
    return winnow_dup_pairs(t["documents"].df, k=12, w=8, min_shared=5)


_SQL_CENTROIDS = f"""
    WITH idx AS (
      SELECT label, embedding,
             unnest(range(1, 65)) AS dim
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    e AS (SELECT label, CAST(dim AS INT) AS dim,
                 CAST(embedding[dim] AS DOUBLE) AS v
          FROM idx)
    SELECT label, dim,
           {sql_dsum("v", 6)} / COUNT(*) AS centroid
    FROM e GROUP BY 1, 2
"""


@query("embedding_centroids", _SQL_CENTROIDS)
def q_embedding_centroids(spark, sf_dir):
    """Exact per-label embedding centroids (IVF-training / cluster-
    canonicalization building block): posexplode to (label, dim,
    component), one partial-agg'd groupBy, decimal-exact mean."""
    from .pipeline.similarity import embedding_centroids

    t = load_tables(spark, sf_dir)
    return embedding_centroids(t["embeddings"].df)


_SQL_TFIDF = f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), ' +')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    n AS (SELECT COUNT(*) AS n FROM documents),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    idf AS (
      SELECT term,
             {sql_round("LN((1 + n) / CAST(1 + df AS DOUBLE)) + 1.0e0", 6)} AS idf
      FROM dfq CROSS JOIN n
    ),
    scored AS (
      SELECT t.doc_id, t.term, {sql_round("t.tf * i.idf", 6)} AS tfidf
      FROM tf t JOIN idf i USING (term)
    ),
    r AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS term_rank
      FROM scored
    )
    SELECT doc_id, term_rank, term, tfidf FROM r WHERE term_rank <= 3
"""


@query("tfidf_keywords", _SQL_TFIDF)
def q_tfidf_keywords(spark, sf_dir):
    """Per-doc keyword extraction: top-3 terms by smoothed tf-idf.
    Narrow explode -> partial-agg'd (doc,term) tf -> vocabulary-sized
    idf side joined back on term -> one per-doc window. Only IDs and
    counts ride the shuffles; text never does."""
    from .pipeline.text import tfidf_topterms

    t = load_tables(spark, sf_dir)
    return tfidf_topterms(t["documents"].df, topk_per_doc=3)


_SQL_FINGERPRINT = """
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 8 THEN
               list_distinct([substr(text, i, 8)
                              for i in range(1, length(text)-6)])
             ELSE [] END AS kg
      FROM documents
    )
    SELECT doc_id,
           list_aggregate(list_transform(kg, s -> md5(s)), 'min')
             AS fingerprint,
           CAST(len(kg) AS BIGINT) AS n_kgrams
    FROM sh
"""


@query("doc_fingerprint", _SQL_FINGERPRINT)
def q_doc_fingerprint(spark, sf_dir):
    """Winnowing-style min-md5 fingerprint over char 8-grams."""
    t = load_tables(spark, sf_dir)
    return doc_fingerprint(t["documents"].df, k=8)


# §2.1 sources/sinks + multimodal plumbing ------------------------------

@query(
    "fread_fwrite_roundtrip",
    "SELECT s_suppkey, s_name, s_acctbal FROM supplier",
)
def q_fread_roundtrip(spark, sf_dir):
    """fwrite -> fread CSV round-trip (reference R/fwrite.R, R/fread.R):
    write the supplier projection as sharded CSV, read it back with
    explicit colClasses, and verify values survive bit-exact (the
    oracle is the original parquet)."""
    import os

    from .core import session_scratch_dir
    from .sources import fread, fwrite

    t = load_tables(spark, sf_dir)
    out_dir = os.path.join(session_scratch_dir(spark, "roundtrip"), "csv")
    proj = t["supplier"].query(j=["s_suppkey", "s_name", "s_acctbal"])
    fwrite(proj, out_dir)
    back = fread(
        spark,
        out_dir,
        col_classes={
            "s_suppkey": "integer64",
            "s_name": "character",
            "s_acctbal": "double",
        },
    )
    return back.df


_SQL_MEDIA_FEATURES = """
    WITH m AS (SELECT doc_id AS id, text, md5(text) AS h FROM documents)
    SELECT id, 'image' AS media_type,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      h AS content_md5,
      CAST(1 + (list_sum([(strpos('0123456789abcdef', substr(h, k+1, 1))
                           - 1)::BIGINT << (4*(3-k)) for k in range(0,4)])
                % 512) AS INT) AS width,
      CAST(1 + (list_sum([(strpos('0123456789abcdef', substr(h, 4+k+1, 1))
                           - 1)::BIGINT << (4*(3-k)) for k in range(0,4)])
                % 512) AS INT) AS height
    FROM m
"""


@query("multimodal_features", _SQL_MEDIA_FEATURES)
def q_multimodal_features(spark, sf_dir):
    """Binary media column -> Arrow-batched mapInPandas feature extract
    (decode stubbed deterministically via md5; the oracle reproduces the
    fake-decode arithmetic, proving the plumbing end-to-end)."""
    from .pipeline.multimodal import attach_binary, extract_features

    t = load_tables(spark, sf_dir)
    media = attach_binary(t["documents"].df)
    return extract_features(media, decoder="fake")


@query(
    "frame_sample_counts",
    """
    SELECT doc_id AS id,
           CAST(GREATEST(1, octet_length(encode(text)) // 1000) AS BIGINT)
             AS n_frames,
           CAST(GREATEST(1, octet_length(encode(text)) // 1000) - 1 AS INT)
             AS max_frame
    FROM documents
    """,
)
def q_frame_sample_counts(spark, sf_dir):
    """Video frame-sampling plumbing (mapInPandas as a flatMap: one
    input row -> N frame rows), verified by cardinality: per media item
    the deterministic fake emits max(1, bytes // (100*every_n)) frames;
    the oracle reproduces that arithmetic from the utf-8 byte length.
    Proves Arrow-batch fan-out + downstream aggregation end-to-end."""
    from .pipeline.multimodal import attach_binary, sample_frames

    t = load_tables(spark, sf_dir)
    frames = sample_frames(attach_binary(t["documents"].df), every_n=10)
    return frames.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_idx").alias("max_frame"),
    )


@query("jaccard_prefix_pairs", _SQL_JACCARD_EXACT)
def q_jaccard_prefix(spark, sf_dir):
    """PPJoin-style prefix-filtered exact Jaccard join: lossless
    candidate pruning (rarest-first prefixes must intersect at j>=t), so
    it shares the exact-join oracle."""
    from .pipeline import jaccard_prefix_pairs

    t = load_tables(spark, sf_dir)
    return jaccard_prefix_pairs(t["documents"].df, threshold=0.8)


@query("ivf_ann_topk", _SQL_ANN_RECALL)
def q_ivf_ann_topk(spark, sf_dir):
    """IVF coarse-quantized ANN (k-means cells + n_probe search): the
    inverted-file scale path alongside the hyperplane LSH variant,
    recall-checked against the exact brute-force top-5. The cells come
    from the deterministic Lloyd's of kmeans_assign, so cells and hit
    count are the same in every session and partition layout. n_probe=6
    of 16 cells scans ~3/8 of the corpus (n_probe trades scan fraction
    for recall — measured recall@5 at sf0.01: 0.85 @2, 0.875 @4,
    0.925 @6, 0.925 @8). Bound asserts >= 0.6 — a real contract (an
    index returning mostly junk fails).

    SF-dependence of the bound (ADVICE r4): recall varies with corpus
    size/geometry — measured for THIS config across SFs: 0.975 @
    sf0.001, 0.925 @ sf0.01, 1.0 @ sf0.1, so the 0.6 bound holds
    with >= 0.1 margin at every generated SF. A driver SF change
    beyond these must re-measure before a red row is read as an ANN
    regression. Same caveat applies to lsh_ann_topk (0.7) and
    sq8_ann_topk (0.8), both measured at sf0.01."""
    from .pipeline import ivf_ann_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    approx = ivf_ann_topk(
        emb, n_centroids=16, n_probe=6, query_ids_below=8, k=5
    )
    exact = cosine_topk(emb, query_ids_below=8, k=5)
    return _ann_recall_result(approx, exact, bound=0.6)


@query(
    "hash_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE list_sum([(strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), k+1, 1))
                     - 1)::BIGINT << (4*(3-k)) for k in range(0,4)])
          % 10 = 0
    """,
)
def q_hash_sample(spark, sf_dir):
    """Deterministic content-hash sampling (~10%): keep rows where
    md5(doc_id) mod 10 == 0. Unlike rand()-based sampling this is
    reproducible across engines, runs, partitionings, and cluster
    sizes — the correct sampling primitive for auditable training-data
    pipelines. Narrow filter, no shuffle."""
    t = load_tables(spark, sf_dir)
    h4 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        t["documents"].df
        .filter(h4 % 10 == 0)
        .select("doc_id", "lang")
    )


@query(
    "stratified_sample",
    """
    WITH h AS (
      SELECT doc_id, lang,
             list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), k+1, 1))
                        - 1)::BIGINT << (4*(3-k)) for k in range(0,4)])
               AS h4
      FROM documents)
    SELECT doc_id, lang FROM h
    WHERE h4 % 100 < (CASE WHEN lang = 'en' THEN 10 ELSE 40 END)
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic STRATIFIED sampling — per-stratum rates (downsample
    the dominant 'en' to 10%, keep 40% of the rest): the
    class-rebalancing primitive of training-data pipelines. Same
    md5-mod trick as hash_sample (reproducible across engines/runs/
    partitionings, unlike sampleBy's rand()); narrow filter, rate
    lookup folds into the predicate, no shuffle."""
    t = load_tables(spark, sf_dir)
    h4 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(40))
    return (
        t["documents"].df
        .filter(h4 % 100 < rate)
        .select("doc_id", "lang")
    )


# §pipeline: corpus curation ---------------------------------------------


def _sql_shingles_n(n: int, src: str = "toks") -> str:
    """DuckDB word-n-gram CTE body for arbitrary n (mirror of
    _SQL_SHINGLES, which is the n=3 instance), reading the tokenized
    CTE named ``src``."""
    gram = " || ' ' || ".join(
        f"toks[i+{k}]" if k else "toks[i]" for k in range(n)
    )
    return f"""
  SELECT doc_id,
         CASE WHEN len(toks) >= {n} THEN
           list_distinct([{gram} for i in range(1, len(toks)-{n - 2})])
         ELSE [] END AS shingles
  FROM {src}
"""


_SQL_DECONTAMINATE = f"""
    WITH toks AS ({_SQL_TOKS}),
    sh AS ({_sql_shingles_n(4)}),
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
              WHERE doc_id % 53 = 0),
    corp AS (SELECT doc_id, unnest(shingles) AS s FROM sh
             WHERE doc_id % 53 <> 0)
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM corp c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
"""


@query("decontaminate_ngrams", _SQL_DECONTAMINATE)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any word 4-gram
    with the benchmark split (doc_id % 53 == 0 stands in for the eval
    suite; production pipelines use ~13-grams — 4 here because the
    synthetic 31-word vocab makes longer grams never collide). The
    benchmark n-gram set is broadcast — corpus n-grams never shuffle
    for the probe, which is the 100 TB shape (eval suites are MBs; the
    corpus is TBs)."""
    from .pipeline import decontaminate

    t = load_tables(spark, sf_dir)
    docs = t["documents"].df
    corpus = docs.filter(F.col("doc_id") % 53 != 0)
    benchmark = docs.filter(F.col("doc_id") % 53 == 0)
    return decontaminate(corpus, benchmark, n=4)


_SQL_KEEP_BEST = f"""
    WITH cl AS ({_SQL_DEDUP_CLUSTERS}),
    q AS (SELECT doc_id,
                 len(regexp_split_to_array(trim(text), ' +')) AS n_tokens
          FROM documents),
    r AS (
      SELECT cl.cluster_id, cl.doc_id,
             CAST(q.n_tokens AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                ORDER BY q.n_tokens DESC, cl.doc_id) AS rn
      FROM cl JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id, n_tokens FROM r WHERE rn = 1
"""


@query("dedup_keep_best", _SQL_KEEP_BEST)
def q_dedup_keep_best(spark, sf_dir):
    """Canonical-doc selection: one keeper per near-dup cluster by
    quality (longest doc wins, doc_id tiebreak) — dedup_clusters
    composed with a per-cluster window rank."""
    from .pipeline import keep_best

    t = load_tables(spark, sf_dir)
    return keep_best(t["documents"].df, threshold=0.8)


_SQL_CHUNKS = f"""
    WITH toks AS ({_SQL_TOKS}),
    st AS (SELECT doc_id, toks,
                  unnest(range(1, greatest(len(toks), 1) + 1, 24)) AS start
           FROM toks)
    SELECT doc_id,
           CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
           array_to_string(toks[start:start+31], ' ') AS chunk_text,
           CAST(least(32, len(toks) - start + 1) AS BIGINT) AS n_tokens
    FROM st
"""


@query("doc_chunking", _SQL_CHUNKS)
def q_doc_chunking(spark, sf_dir):
    """Context-window packing: 32-token chunks, 8-token overlap
    (stride 24). Narrow explode of per-doc start offsets — no
    shuffle; the tail chunk may be short."""
    from .pipeline import chunk_documents

    t = load_tables(spark, sf_dir)
    return chunk_documents(t["documents"].df, size=32, overlap=8)


_SQL_REPETITION = f"""
    WITH toks AS ({_SQL_TOKS}),
    t AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
    ts AS (SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS top_token_ratio
           FROM tc GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  [toks[i] || ' ' || toks[i+1]
                   for i in range(1, len(toks))] AS bgs
           FROM toks WHERE len(toks) >= 2),
    bs AS (SELECT doc_id,
                  (len(bgs) - len(list_distinct(bgs)))::DOUBLE / len(bgs)
                    AS dup_2gram_ratio
           FROM bg)
    SELECT ts.doc_id, top_token_ratio, dup_2gram_ratio
    FROM ts JOIN bs ON ts.doc_id = bs.doc_id
"""


@query("repetition_metrics", _SQL_REPETITION)
def q_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals: top-token occupancy and
    duplicate-bigram fraction per doc (exact int counts, one final
    division each)."""
    from .pipeline import repetition_metrics

    t = load_tables(spark, sf_dir)
    return repetition_metrics(t["documents"].df)


_SQL_CURATION_PIPELINE = f"""
    WITH RECURSIVE toks AS ({_SQL_TOKS}),
    keepq AS (SELECT doc_id FROM toks WHERE len(toks) >= 20),
    sh4 AS ({_sql_shingles_n(4)}),
    bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh4
              WHERE doc_id % 53 = 0),
    corp4 AS (SELECT doc_id, unnest(shingles) AS s FROM sh4
              WHERE doc_id % 53 <> 0),
    contaminated AS (SELECT DISTINCT c.doc_id
                     FROM corp4 c JOIN bench b ON c.s = b.s),
    clean AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 53 <> 0
        AND doc_id IN (SELECT doc_id FROM keepq)
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    ctoks AS (SELECT * FROM toks WHERE doc_id IN (SELECT doc_id FROM clean)),
    sh AS ({_sql_shingles_n(3, "ctoks")}),
    sz AS (SELECT doc_id, shingles, len(shingles) AS sz FROM sh),
    ex AS (SELECT doc_id, sz, unnest(shingles) AS s FROM sz),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sz AS sa, b.sz AS sb, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    prs AS (
      SELECT doc_a, doc_b FROM p
      WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.8
    ),
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION ALL
      SELECT doc_b, doc_a FROM prs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM clean
      UNION
      SELECT e.dst, reach.lbl FROM reach JOIN e ON e.src = reach.node
    ),
    cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
           FROM reach GROUP BY node),
    r AS (
      SELECT cl.cluster_id, cl.doc_id, len(t.toks) AS n_tok,
             ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                ORDER BY len(t.toks) DESC, cl.doc_id) AS rn
      FROM cl JOIN ctoks t USING (doc_id)
    ),
    keepers AS (SELECT doc_id FROM r WHERE rn = 1),
    kt AS (SELECT t.doc_id, t.toks FROM ctoks t
           JOIN keepers k ON t.doc_id = k.doc_id),
    st AS (SELECT doc_id, toks,
                  unnest(range(1, greatest(len(toks), 1) + 1, 24)) AS start
           FROM kt)
    SELECT doc_id,
           CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
           array_to_string(toks[start:start+31], ' ') AS chunk_text,
           CAST(least(32, len(toks) - start + 1) AS BIGINT) AS n_tokens
    FROM st
"""


@query("curation_pipeline", _SQL_CURATION_PIPELINE)
def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation pipeline as ONE declarative composition:
    length filter (>= 20 tokens) -> benchmark decontamination (drop
    any doc sharing a 4-gram with the doc_id % 53 == 0 eval split) ->
    near-dup clustering at Jaccard 0.8 -> keep-best canonicalization
    -> 32/8 context-window chunking. Everything before clustering is
    narrow or broadcast-probed; clustering and chunking add the same
    shuffles they cost standalone — composition adds none."""
    from .pipeline import chunk_documents, decontaminate, keep_best

    t = load_tables(spark, sf_dir)
    docs = t["documents"].df
    corpus = docs.filter(F.col("doc_id") % 53 != 0)
    long_enough = corpus.filter(
        F.size(F.split(F.trim(F.col("text")), " +")) >= 20
    )
    dirty = decontaminate(corpus, docs.filter(F.col("doc_id") % 53 == 0), 4)
    # r14 optimization: `clean` is consumed FOUR times downstream (the
    # pair generator's shingle build, dedup_clusters' singleton join,
    # keep_best's quality pass, the final chunk join), and every pass
    # re-ran the decontaminate aggregate + anti-join above it.
    # ``materialize`` computes the decontaminated table once per
    # invocation (the same heterogeneous-consumers reasoning as
    # semdedup_prune and line_dedup; measured 8.66s ->
    # 5.70s at sf0.1, 0.66x). At 100 TB this is the standard "persist
    # the cleaned corpus once" posture every curation pipeline takes.
    clean = materialize(
        long_enough.join(dirty.select("doc_id"), "doc_id", "left_anti")
    )
    keepers = keep_best(clean, threshold=0.8).select("doc_id")
    return chunk_documents(
        clean.join(keepers, "doc_id"), size=32, overlap=8
    )


_SQL_PACKING = f"""
    WITH toks AS ({_SQL_TOKS}),
    d AS (SELECT t.doc_id, t.toks, x.source FROM toks t
          JOIN documents x ON t.doc_id = x.doc_id),
    st AS (SELECT doc_id, source, toks,
                  unnest(range(1, greatest(len(toks), 1) + 1, 24)) AS start
           FROM d),
    ch AS (
      SELECT source, doc_id,
             CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
             CAST(least(32, len(toks) - start + 1) AS BIGINT) AS n_tokens
      FROM st
    )
    SELECT source, doc_id, chunk_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id, chunk_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 256 AS BIGINT) AS bin_id
    FROM ch
"""


@query("sequence_packing", _SQL_PACKING)
def q_sequence_packing(spark, sf_dir):
    """Sequence packing: assign 32/8 chunks to fixed 256-token training
    bins by contiguous fill — bin_id = tokens-before // budget over a
    deterministic (doc_id, chunk_id) order WITHIN each source shard.
    Per-shard windows keep the cumsum distributed (no global ordering;
    a global pack would serialize through one reducer — sharding is how
    packing runs at 100 TB)."""
    from pyspark.sql import Window

    from .pipeline import chunk_documents

    t = load_tables(spark, sf_dir)
    docs = t["documents"].df
    ch = chunk_documents(docs, size=32, overlap=8).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ch.select(
        "source",
        "doc_id",
        "chunk_id",
        "n_tokens",
        (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(256))
        .cast("long")
        .alias("bin_id"),
    )


@query(
    "sketch_distinct_tokens",
    """
    WITH t AS (SELECT lang, unnest(regexp_split_to_array(trim(text), ' +'))
                 AS tok
               FROM documents)
    SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM t GROUP BY lang
    """,
)
def q_sketch_distinct_tokens(spark, sf_dir):
    """Mergeable-sketch profiling: per-language distinct token count via
    Apache DataSketches HLL (hll_sketch_agg -> hll_sketch_estimate) —
    the 100 TB cardinality-profiling tool (sketches partial-aggregate
    map-side and merge associatively, unlike COUNT(DISTINCT)'s full
    shuffle of distinct values). At this corpus's cardinality (31-word
    vocab) the sketch is still in exact (list/set) mode — promotion to
    the approximate HLL array happens far above it — so the estimate
    equals the exact COUNT(DISTINCT) oracle."""
    from .pipeline.text import tokens_col

    t = load_tables(spark, sf_dir)
    toks = t["documents"].df.select(
        "lang", F.explode(tokens_col("text")).alias("tok")
    )
    return toks.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok"))
        .cast("long")
        .alias("n_distinct_tokens")
    )


_QSKETCH_QS = [0.25, 0.5, 0.75, 0.95]
_QSKETCH_ACC = 1000  # percentile_approx accuracy: rank error <= n/1000


@query(
    "sketch_quantiles",
    """
    SELECT l_returnflag, q, TRUE AS rank_ok
    FROM (SELECT DISTINCT l_returnflag FROM lineitem)
    CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) AS t(q)
    """,
)
def q_sketch_quantiles(spark, sf_dir):
    """Mergeable quantile sketch with a deterministic rank-error
    contract (the ANN-recall pattern applied to quantiles): per-group
    percentile_approx — Spark's Greenwald-Khanna sketch, which
    partial-aggregates map-side and merges associatively, the only
    quantile that scales to 100 TB (exact percentile shuffles every
    value to one reducer per group) — then the sketch's OWN guarantee
    |rank(v) - q*n| <= n/accuracy is CHECKED exactly: one broadcast
    probe of the 12-row (group, q, v) table over the fact scan counts
    rank(v) = #{x <= v}. The oracle pins every contract row TRUE; a
    sketch drifting past its bound goes red."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].df.select("l_returnflag", "l_extendedprice")
    qarr = F.array(*[F.lit(q) for q in _QSKETCH_QS])
    ap = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", qarr, F.lit(_QSKETCH_ACC)
            ).alias("av"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("l_returnflag").alias("rf"), "n",
            F.posexplode("av").alias("qi", "v"),
        )
        .withColumn("q", F.element_at(qarr, F.col("qi") + 1))
    )
    # The sketch guarantees SOME rank position of v — any in
    # [#{x < v} + 1, #{x <= v}] when v is duplicated — lies within
    # n/accuracy of q*n, so the contract checks that the value's rank
    # INTERVAL intersects the allowed band (checking the upper rank
    # alone would be stronger than the guarantee and could go red on a
    # correct sketch over heavily-duplicated data).
    ranks = (
        li.join(
            F.broadcast(ap),
            (F.col("l_returnflag") == F.col("rf"))
            & (F.col("l_extendedprice") <= F.col("v")),
        )
        .groupBy("rf", "q", "n")
        .agg(
            F.count(F.lit(1)).alias("rank_le"),
            F.sum(
                (F.col("l_extendedprice") < F.col("v")).cast("long")
            ).alias("rank_lt"),
        )
    )
    bound = F.col("n") / _QSKETCH_ACC + 1
    target = F.col("q") * F.col("n")
    return ranks.select(
        F.col("rf").alias("l_returnflag"),
        "q",
        (
            (F.col("rank_le") >= target - bound)
            & (F.col("rank_lt") + 1 <= target + bound)
        ).alias("rank_ok"),
    )


@query(
    "vocab_topk",
    """
    WITH toks AS (SELECT regexp_split_to_array(trim(text), ' +') AS t
                  FROM documents WHERE lang = 'en'),
    cnt AS (SELECT unnest(t) AS token FROM toks),
    freq AS (SELECT token, COUNT(*) AS n FROM cnt GROUP BY token)
    SELECT token, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT)
             AS rank
    FROM freq
    ORDER BY n DESC, token LIMIT 20
    """,
)
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-k: tokenize (codegen split+explode),
    count per token with map-side partial aggregation, global top-20
    via TakeOrderedAndProject (no full sort: each partition keeps only
    its top-k candidates). The BPE-corpus-prep / vocab-audit staple;
    scales as one shuffle on token + a k-row reduction."""
    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"].df
        .filter(F.col("lang") == "en")
        .select(F.explode(F.split(F.trim(F.col("text")), " +")).alias("token"))
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        freq.orderBy(F.desc("n"), F.asc("token")).limit(20)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("token", "n", "rank")
    )


_SQL_PII = """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com from 10.0.' || (doc_id % 256) ||
             '.7 call +1555' || lpad((doc_id % 10000)::VARCHAR, 7, '0')
               AS t
      FROM documents
    ),
    counted AS (
      SELECT doc_id,
        len(regexp_extract_all(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT
          AS n_email,
        len(regexp_extract_all(t,
          '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::BIGINT
          AS n_ip,
        len(regexp_extract_all(t, '\\+[0-9]{7,15}\\b'))::BIGINT AS n_phone,
        regexp_replace(
          regexp_replace(
            regexp_replace(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
              '[EMAIL]', 'g'),
            '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
            '[IP]', 'g'),
          '\\+[0-9]{7,15}\\b', '[PHONE]', 'g') AS scrubbed
      FROM aug
    )
    SELECT doc_id, n_email, n_ip, n_phone,
           (n_email + n_ip + n_phone)::BIGINT AS n_pii,
           md5(scrubbed) AS scrub_md5
    FROM counted
"""


@query("pii_scrub", _SQL_PII)
def q_pii_scrub(spark, sf_dir):
    """Training-data PII scrub (emails / IPv4 / international phone
    runs masked, per-kind counts). The corpus text carries no real PII,
    so both engines append identical synthetic PII derived from doc_id
    before scrubbing — the operator path under test is the ordered
    regexp_replace chain + match counting, codegen-only (no UDF).
    scrub_md5 pins the masked text byte-for-byte across engines."""
    from .pipeline.text import scrub_pii

    t = load_tables(spark, sf_dir)
    aug = t["documents"].df.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1555"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 7, "0"),
        ).alias("text"),
    )
    out = scrub_pii(aug, "text")
    return out.select(
        "doc_id", "n_email", "n_ip", "n_phone", "n_pii",
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


_SQL_CHUNK_DEDUP = f"""
    WITH toks AS ({_SQL_TOKS}),
    st AS (SELECT doc_id, toks,
                  unnest(range(1, greatest(len(toks), 1) + 1, 24)) AS start
           FROM toks),
    ch AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[start:start+31], ' ') AS chunk_text
      FROM st
      WHERE least(32, len(toks) - start + 1) = 32
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM ch a JOIN ch b
        ON a.chunk_text = b.chunk_text AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM p WHERE n_shared >= 2
"""


@query("chunk_dedup_pairs", _SQL_CHUNK_DEDUP)
def q_chunk_dedup_pairs(spark, sf_dir):
    """Paragraph-level dedup: docs sharing >= 2 identical FULL 32-token
    chunks (stride 24) — the standard pretraining pass that catches
    partial/boilerplate duplication exact-Jaccard misses at doc
    granularity. Composition of chunk_documents with a chunk-text
    equi-join (the blocking key is the chunk text itself: one shuffle,
    never the doc-pair space; short tail chunks excluded so trivial
    fragments can't pair). At 100 TB add a max-document-frequency guard
    on ultra-common chunks (boilerplate) before the self-join."""
    from .pipeline import chunk_documents

    t = load_tables(spark, sf_dir)
    # r14 optimization: anchor the chunk rows below the hash(chunk_text)
    # Exchange the self-join needs anyway — both join sides and the
    # distinct consume ONE materialization of the chunking explode
    # instead of re-running it per side (the distinct's (doc_id,
    # chunk_text) keys are clustered by the chunk_text hash, so it adds
    # no exchange of its own)
    ch = (
        chunk_documents(t["documents"].df, size=32, overlap=8)
        .filter(F.col("n_tokens") == 32)
        .select("doc_id", "chunk_text")
        .repartition("chunk_text")
        .distinct()
    )
    a = ch.select(F.col("doc_id").alias("doc_a"), "chunk_text")
    b = ch.select(F.col("doc_id").alias("doc_b"), "chunk_text")
    return (
        a.join(b, "chunk_text")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query("sq8_ann_topk", _SQL_ANN_RECALL)
def q_sq8_ann_topk(spark, sf_dir):
    """Scalar-quantized (int8) asymmetric ANN: full-precision queries
    against the byte-coded corpus (4x storage reduction — the 100 TB
    embedding-store trick), recall-checked against exact brute force.
    Quantization is the only approximation, so the bound is tight:
    measured recall@5 = 0.975 at sf0.01; bound asserts >= 0.8."""
    from .pipeline.similarity import sq8_cosine_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    approx = sq8_cosine_topk(emb, query_ids_below=8, k=5)
    exact = cosine_topk(emb, query_ids_below=8, k=5)
    return _ann_recall_result(approx, exact, bound=0.8)


@query(
    "dedup_exact_ids",
    "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
)
def q_dedup_exact_ids(spark, sf_dir):
    """Keep-list exact dedup (the 100 TB form): group on a 128-bit md5
    of the content so the shuffle carries (digest, id) rows — bytes per
    document — instead of the text itself; output is just the surviving
    ids. See pipeline.dedup.dedup_exact_ids for the collision-bound
    argument (md5 birthday ~1e-15 at 10^12 docs)."""
    from .pipeline import dedup_exact_ids

    t = load_tables(spark, sf_dir)
    return dedup_exact_ids(t["documents"].df, ["text"], "doc_id")


@query("pq_ann_topk", _SQL_ANN_RECALL)
def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN with exact re-rank (faiss IndexRefine
    shape): 16 subspaces x 32 centroids store each 64-dim vector as 16
    codes (16x compression); ADC scoring touches only the code table
    (LUT equi-join, no corpus floats shuffled), then the top-40 ADC
    candidates per query are exactly re-scored — refinement cost
    independent of corpus size. The codes come from the deterministic
    Lloyd's of kmeans_assign (all 16 subspaces per round), so they are
    the same in every session and partition layout. Measured recall@5
    vs exact: 0.95 @ sf0.001, sf0.01 and sf0.1. Bound asserts >= 0.8 —
    >= 0.1 margin at every generated SF (the SF-dependence caveat of
    ivf_ann_topk applies)."""
    from .pipeline.similarity import pq_ann_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    approx = pq_ann_topk(emb, query_ids_below=8, k=5)
    exact = cosine_topk(emb, query_ids_below=8, k=5)
    return _ann_recall_result(approx, exact, bound=0.8)


@query("ivfpq_ann_topk", _SQL_ANN_RECALL)
def q_ivfpq_ann_topk(spark, sf_dir):
    """IVF-PQ composed ANN (faiss IndexIVFPQ, by_residual=False): the
    coarse k-means cells bound WHICH rows a query touches (n_probe=6 of
    16 cells) and the PQ codes bound WHAT is read per row (16 codes +
    a norm, no corpus floats) — the 100 TB composition both index
    families' docstrings promise, scored by one broadcast equi-join on
    (subspace, code, cell) and refined by exact re-rank. Both indexes
    train on the deterministic Lloyd's of kmeans_assign. Measured
    recall@5 vs exact: 0.975 @ sf0.001, 0.9 @ sf0.01, 0.95 @ sf0.1 —
    within the measured IVF (0.925-1.0) and PQ (0.95) losses. Bound
    asserts >= 0.55 (>= 0.10 margin at every generated SF; the
    ivf_ann_topk SF-dependence caveat applies)."""
    from .pipeline.similarity import ivfpq_ann_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    approx = ivfpq_ann_topk(emb, query_ids_below=8, k=5)
    exact = cosine_topk(emb, query_ids_below=8, k=5)
    return _ann_recall_result(approx, exact, bound=0.55)


# §pipeline: training-run assembly (mixing, splitting, shuffling, LM filter)


def _sql_md5_int(expr: str, hexdigits: int = 4) -> str:
    """DuckDB expression: first `hexdigits` hex chars of md5(expr) as a
    BIGINT (mirror of Spark's conv(substring(md5(x),1,n),16,10))."""
    return (
        f"list_sum([(strpos('0123456789abcdef', substr(md5({expr}), k+1, 1))"
        f" - 1)::BIGINT << (4*({hexdigits - 1}-k)) for k in range(0,{hexdigits})])"
    )


_MIXTURE_TARGETS = {
    **{f"src{i}": 8 for i in range(5)},
    **{f"src{i}": 4 for i in range(5, 10)},
    **{f"src{i}": 2 for i in range(10, 20)},
}

_SQL_MIXTURE = f"""
    WITH cnt AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
    tot AS (SELECT COUNT(*) AS t FROM documents),
    sh AS (
      SELECT source, c, t,
             CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 8
                  WHEN source IN ('src5','src6','src7','src8','src9') THEN 4
                  WHEN source IN ('src10','src11','src12','src13','src14',
                                  'src15','src16','src17','src18','src19') THEN 2
                  ELSE NULL END AS share
      FROM cnt CROSS JOIN tot
      -- sources absent from the targets dict are DROPPED (Spark-side
      -- contract); a new source value in the data must surface as an
      -- oracle mismatch, not silently inherit a share (ADVICE r5)
      ),
    plan AS (
      SELECT source,
             LEAST(CAST(16777216 AS BIGINT),
                   ((t * 50 // 100) * share // 80) * 16777216 // c) AS thr
      FROM sh)
    SELECT d.doc_id, d.source
    FROM documents d JOIN plan USING (source)
    WHERE {_sql_md5_int("CAST(d.doc_id AS VARCHAR)", 6)} < plan.thr
"""


_SQL_TOKEN_MIXTURE = f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
               AS nt
      FROM documents),
    cnt AS (SELECT source, SUM(nt) AS toks FROM t GROUP BY 1),
    tot AS (SELECT SUM(nt) AS tt FROM t),
    sh AS (
      SELECT source, toks, tt,
             CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 8
                  WHEN source IN ('src5','src6','src7','src8','src9') THEN 4
                  WHEN source IN ('src10','src11','src12','src13','src14',
                                  'src15','src16','src17','src18','src19') THEN 2
                  ELSE NULL END AS share
      FROM cnt CROSS JOIN tot),
    plan AS (
      SELECT source,
             LEAST(CAST(16777216 AS BIGINT),
                   ((tt * 50 // 100) * share // 80) * 16777216 // toks) AS thr
      FROM sh)
    SELECT d.doc_id, d.source, d.nt AS n_tokens
    FROM t d JOIN plan USING (source)
    WHERE {_sql_md5_int("CAST(d.doc_id AS VARCHAR)", 6)} < plan.thr
"""


@query("token_mixture_sample", _SQL_TOKEN_MIXTURE)
def q_token_mixture_sample(spark, sf_dir):
    """Mixture sampling with the budget in TOKENS (how training mixes
    are specified): per-source keep thresholds from observed TOKEN
    totals vs target shares, exact bigint arithmetic, same md5 gate —
    mixture_sample's machinery with token weighting, so length-skewed
    sources stop distorting the token mix. Zero corpus shuffles."""
    from .pipeline.curation import token_mixture_sample

    t = load_tables(spark, sf_dir)
    return token_mixture_sample(
        t["documents"].df, _MIXTURE_TARGETS, budget_pct=50
    )


@query("mixture_sample", _SQL_MIXTURE)
def q_mixture_sample(spark, sf_dir):
    """Target-mixture sampling (the data-mixing step of a training run):
    per-source keep thresholds computed EXACTLY in bigint from observed
    counts vs target shares (src0-4 weight 8, src5-9 weight 4, rest 2;
    50% budget), then the md5-gate filter. One tiny count aggregate
    broadcast back; the corpus never shuffles."""
    from .pipeline.curation import mixture_sample

    t = load_tables(spark, sf_dir)
    return mixture_sample(
        t["documents"].df, _MIXTURE_TARGETS, budget_pct=50
    )


_UPSAMPLE_FACTORS = {
    "src0": 2.5,    # 2 full passes + a deterministic half
    "src1": 3.0,    # exact integer replay
    "src2": 1.0,    # identity
    "src3": 0.25,   # degenerates to the hash sampler
    "src4": 1.75,
}
# 2^-24 fixed-point quantization — the SAME integers the Spark side
# computes, so both engines share every bit of the copy arithmetic
_UPSAMPLE_Q = {g: int(round(f * (1 << 24))) for g, f in _UPSAMPLE_FACTORS.items()}

_SQL_UPSAMPLE = f"""
    WITH base AS (
      SELECT doc_id, source,
             CASE {' '.join(f"WHEN source = '{g}' THEN CAST({q} AS BIGINT)"
                            for g, q in _UPSAMPLE_Q.items())}
                  ELSE NULL END AS q,
             {_sql_md5_int("CAST(doc_id AS VARCHAR)", 6)} AS h
      FROM documents),
    ev AS (
      SELECT doc_id, source,
             (q // 16777216)
               + CASE WHEN h < (q % 16777216) THEN 1 ELSE 0 END AS copies
      FROM base WHERE q IS NOT NULL)
    SELECT ev.doc_id, ev.source, CAST(gs.epoch AS INT) AS epoch
    FROM ev JOIN generate_series(0, {max((q >> 24) + (1 if q % (1 << 24) else 0)
                                         for q in _UPSAMPLE_Q.values()) - 1})
              AS gs(epoch)
      ON gs.epoch < ev.copies
"""


@query("epoch_upsample", _SQL_UPSAMPLE)
def q_epoch_upsample(spark, sf_dir):
    """Deterministic per-source epoch upsampling (the complement of
    mixture_sample's rate-capped downsampling): factor 2.5 replays
    every src0 row twice plus a content-stable half a third time,
    epoch numbering the copies. Factors are literals — the plan is a
    narrow when-chain + posexplode generate, zero shuffles."""
    from .pipeline.curation import epoch_upsample

    t = load_tables(spark, sf_dir)
    return epoch_upsample(t["documents"].df, _UPSAMPLE_FACTORS)


_SQL_SPLIT_LEAKFREE = f"""
    WITH c AS ({_SQL_DEDUP_CLUSTERS})
    SELECT doc_id, cluster_id,
           CASE WHEN {_sql_md5_int("CAST(cluster_id AS VARCHAR)", 4)} % 100 < 20
                THEN 'test' ELSE 'train' END AS split
    FROM c
"""


@query("split_leakfree", _SQL_SPLIT_LEAKFREE)
def q_split_leakfree(spark, sf_dir):
    """Leakage-free train/test split: hash the duplicate-CLUSTER
    representative (not the row id) so near-duplicates land on the same
    side — the contamination-proof split a training pipeline needs.
    Cost is the clustering; the split adds zero shuffles."""
    from .pipeline.curation import split_by_cluster

    t = load_tables(spark, sf_dir)
    return split_by_cluster(t["documents"].df, threshold=0.8, test_pct=20)


_SQL_SHUFFLE_SHARDS = f"""
    WITH h AS (
      SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS hh
      FROM documents),
    s AS (
      SELECT doc_id, hh,
             CAST(({_sql_md5_int("'42:' || CAST(doc_id AS VARCHAR)", 12)}) % 8
                  AS BIGINT) AS shard
      FROM h)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                AS BIGINT) AS pos
    FROM s
"""


_SQL_PACK_SEQUENCES = f"""
    WITH toks AS ({_SQL_TOKS}),
    h AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS hh,
             CAST(({_sql_md5_int("'42:' || CAST(doc_id AS VARCHAR)", 12)}) % 8
                  AS BIGINT) AS shard
      FROM toks),
    p AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY hh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM h)
    SELECT doc_id, shard,
           CAST(prev // 512 AS BIGINT) AS seq_id,
           CAST(prev % 512 AS BIGINT) AS seq_offset,
           n_tokens
    FROM p
"""


@query("pack_sequences", _SQL_PACK_SEQUENCES)
def q_pack_sequences(spark, sf_dir):
    """Concatenate-and-split sequence packing over the seeded SHUFFLE
    layout (shuffle_shards order): per-shard RUNNING token total +
    exact bigint DIV/% assign each doc the training sequence where it
    starts plus its cut offset. One shuffle on the shard key.
    Companion of `sequence_packing`, which bins chunks in corpus order
    per source (the pre-shuffle, chunk-granular view)."""
    from .pipeline.curation import pack_sequences

    t = load_tables(spark, sf_dir)
    return pack_sequences(t["documents"].df, budget=512, n_shards=8)


@query("shuffle_shards", _SQL_SHUFFLE_SHARDS)
def q_shuffle_shards(spark, sf_dir):
    """Deterministic global training-order shuffle: seeded md5 assigns
    each doc a shard and an in-shard position; reading shards in order
    visits a reproducible pseudo-random permutation. One shuffle
    (the per-shard row_number window); n_shards scales with the
    corpus so each shard stays a single-task ~1 GB sort."""
    from .pipeline.curation import shuffle_shards

    t = load_tables(spark, sf_dir)
    return shuffle_shards(t["documents"].df, n_shards=8, seed=42)


_SQL_BIGRAM_LM = f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS w FROM toks),
    big AS (
      SELECT doc_id,
             unnest([toks[i] for i in range(1, len(toks))]) AS w1,
             unnest([toks[i+1] for i in range(1, len(toks))]) AS w2
      FROM toks WHERE len(toks) >= 2),
    db AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM big GROUP BY 1, 2, 3),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
    vv AS (SELECT COUNT(DISTINCT w) AS v FROM ex),
    lp AS (
      SELECT w1, w2,
             CAST({sql_round(
                 "LN(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * 1e6", 0
             )} AS BIGINT) AS lp_micro
      FROM c2 JOIN c1 USING (w1) CROSS JOIN vv)
    SELECT db.doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(SUM(k * lp_micro) AS DOUBLE)
             / (CAST(SUM(k) AS DOUBLE) * 1e6) AS avg_lp
    FROM db JOIN lp USING (w1, w2)
    GROUP BY db.doc_id
"""


@query("bigram_lm_score", _SQL_BIGRAM_LM)
def q_bigram_lm_score(spark, sf_dir):
    """Corpus-trained add-one bigram LM quality score per doc (the
    CCNet-style LM filter). All counts exact bigint; the single
    transcendental is quantized to integer micro-nats in one rounding,
    so per-doc sums are exact integer arithmetic — no float-order or
    decimal-midpoint exposure. Key-partitioned aggregates + equi-joins
    only."""
    from .pipeline.text import bigram_lm_scores

    t = load_tables(spark, sf_dir)
    return bigram_lm_scores(t["documents"].df)


@query(
    "jsonl_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def q_jsonl_roundtrip(spark, sf_dir):
    """fwrite_jsonl -> fread_jsonl round-trip: write the documents
    table as sharded JSON-lines (the training-data interchange format)
    and read it back with an EXPLICIT schema (inference is a full extra
    pass at 100 TB). Strings and integers round-trip exactly; the
    oracle is the original parquet."""
    import os

    from .sources import fread_jsonl, fwrite_jsonl

    from .core import session_scratch_dir

    t = load_tables(spark, sf_dir)
    # per-application scratch (no overwrite race across concurrent
    # sessions; stale siblings swept) — see core.session_scratch_dir
    out = os.path.join(session_scratch_dir(spark, "roundtrip"), "jsonl")
    proj = t["documents"].df.select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    fwrite_jsonl(proj, out)
    back = fread_jsonl(
        spark, out,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.df.select("doc_id", "text", "lang", "source", "n_chars")


@query(
    "orc_roundtrip",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders",
)
def q_orc_roundtrip(spark, sf_dir):
    """fwrite_orc -> fread_orc round-trip: the other columnar format
    Spark speaks natively (vectorized reader, pushdown, zstd). IEEE
    doubles round-trip bit-exact through ORC's binary encoding; the
    oracle is the original parquet."""
    import os

    from .sources import fread_orc, fwrite_orc

    from .core import session_scratch_dir

    t = load_tables(spark, sf_dir)
    out = os.path.join(session_scratch_dir(spark, "roundtrip"), "orc")
    proj = t["orders"].df.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    fwrite_orc(proj, out)
    return fread_orc(spark, out).df.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@query("udtf_chunk_lateral", _SQL_CHUNKS)
def q_udtf_chunk_lateral(spark, sf_dir):
    """Python-UDTF + LATERAL join twin of doc_chunking (same oracle):
    the Spark 4 user-defined TABLE function surface, exercised through
    DataFrame.lateralJoin. The relational chunker stays the hot path;
    this pins the API and that both forms agree."""
    from .pipeline.curation import chunk_documents_udtf

    t = load_tables(spark, sf_dir)
    return chunk_documents_udtf(t["documents"].df, size=32, overlap=8)


# §pipeline: deterministic k-means + SemDeDup + length-bucketed batching

# Unrolled Lloyd's CTE chain shared by the kmeans/semdedup oracles:
# c0 = k lowest-id vectors; each round is argmin-assign (QUALIFY
# row_number over (dist, cluster_id)) then a DECIMAL(18,6)-exact
# per-dimension mean repacked with list(... ORDER BY pos). Two rounds
# unrolled = the queries' n_iter=2 contract. Assignment portability
# rests on the measured best-vs-second-best distance margin (8.2e-4 at
# sf0.01, 2.7e-5 at sf0.1 — 7+ orders above the ~1e-12 double drift;
# probed in tests/test_api_unit.py::test_kmeans_margin).
_SQL_KMEANS_A2 = f"""
  e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = 64
  ),
  c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
             AS cluster_id,
           v AS cent
    FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
  ),
  d1 AS (
    SELECT e.vec_id, c0.cluster_id,
           list_sum([(e.v[i]-c0.cent[i])*(e.v[i]-c0.cent[i])
                     for i in range(1, len(e.v)+1)]) AS dist
    FROM e CROSS JOIN c0
  ),
  a1 AS (
    SELECT vec_id, cluster_id FROM d1
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY dist, cluster_id) = 1
  ),
  x1 AS (
    SELECT a1.cluster_id, t.i AS pos, e.v[t.i] AS comp
    FROM a1 JOIN e USING (vec_id)
    CROSS JOIN generate_series(1, 64) AS t(i)
  ),
  c1 AS (
    SELECT cluster_id, list(cm ORDER BY pos) AS cent
    FROM (
      SELECT cluster_id, pos,
             {sql_dsum("comp", 6)} / COUNT(*) AS cm
      FROM x1 GROUP BY cluster_id, pos
    ) GROUP BY cluster_id
  ),
  d2 AS (
    SELECT e.vec_id, c1.cluster_id,
           list_sum([(e.v[i]-c1.cent[i])*(e.v[i]-c1.cent[i])
                     for i in range(1, len(e.v)+1)]) AS dist
    FROM e CROSS JOIN c1
  ),
  a2 AS (
    SELECT vec_id, cluster_id FROM d2
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY dist, cluster_id) = 1
  )
"""

_SQL_KMEANS = f"""
    WITH {_SQL_KMEANS_A2}
    SELECT vec_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_n
    FROM a2
"""


@query("kmeans_clusters", _SQL_KMEANS)
def q_kmeans_clusters(spark, sf_dir):
    """Deterministic pure-DataFrame Lloyd's k-means (k=8, 2 unrolled
    iterations): lowest-id init, decimal-exact centroid means, argmin
    assignment with an id tiebreak — the first ITERATIVE algorithm in
    the registry with a full value-hash oracle (the IVF/PQ indexes
    train on the same loop but carry recall contracts, since their
    search is approximate). All-integer output."""
    from .pipeline.similarity import kmeans_clusters

    t = load_tables(spark, sf_dir)
    return kmeans_clusters(t["embeddings"].df, k=8, n_iter=2)


_SQL_SEMDEDUP = f"""
    WITH {_SQL_KMEANS_A2},
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    dup_b AS (
      SELECT DISTINCT pb.vec_id AS vec_id
      FROM a2 pa
      JOIN a2 pb ON pa.cluster_id = pb.cluster_id
                AND pa.vec_id < pb.vec_id
      JOIN n na ON na.vec_id = pa.vec_id
      JOIN n nb ON nb.vec_id = pb.vec_id
      WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.4505
    )
    SELECT a2.vec_id, a2.cluster_id,
           (a2.vec_id NOT IN (SELECT vec_id FROM dup_b)) AS kept
    FROM a2
"""


@query("semdedup_prune", _SQL_SEMDEDUP)
def q_semdedup_prune(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023): k-means buckets
    bound the pair space (quadratic only within a cluster), cosine >=
    0.4505 (the measured-gap constant shared with cosine_pairs) marks
    duplicates, keep-first (min vec_id) picks the survivor. Output is
    id/bool-only — no float in the hash."""
    from .pipeline.similarity import semdedup_prune

    t = load_tables(spark, sf_dir)
    return semdedup_prune(t["embeddings"].df, k=8, n_iter=2)


_SQL_SEMDEDUP_CAPPED = f"""
    WITH {_SQL_KMEANS_A2},
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    dup_b AS (
      SELECT DISTINCT pb.vec_id AS vec_id
      FROM a2 pa
      JOIN a2 pb ON pa.cluster_id = pb.cluster_id
                AND pa.vec_id < pb.vec_id
      JOIN n na ON na.vec_id = pa.vec_id
      JOIN n nb ON nb.vec_id = pb.vec_id
      WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.4505
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_dropped,
           CAST(1 AS BOOLEAN) AS subset_ok,
           CAST(1 AS BOOLEAN) AS recall_ok
    FROM dup_b
"""


@query("semdedup_prune_capped", _SQL_SEMDEDUP_CAPPED)
def q_semdedup_prune_capped(spark, sf_dir):
    """Hot-cluster-capped SemDeDup (round-9 verdict item 2): clusters
    above max_cluster_n sub-split by seeded hyperplane signs (SRP-LSH
    — near-identical content keeps its signs, so dup families stay
    together), residual oversize sub-buckets rank-chunk with
    chain-to-representative comparison. Pair space per cluster falls
    from O(n^2) to O(n*cap + n^2/cap) — the mitigation for the
    measured sf10 hot cluster (15k rows, 61x balanced; SCALE.md).

    Approximation contract (the lsh_ann_topk pattern): the capped
    dropped set is structurally a SUBSET of the exact one (every pair
    it examines is a same-cluster lower-id pair); recall vs the exact
    path — measured 1.0 at sf0.01 and 0.41 at sf0.1 with cap=64 (the
    gate corpus is the LOW-similarity cos~0.45 regime, where sign
    buckets genuinely split borderline pairs; on the near-identical
    families the cap exists for, measured recall is ~1 — pinned in
    test_semdedup_capped) — asserted >= 0.35. n_exact_dropped is
    recomputed by both engines, so the exact machinery stays
    value-checked inside this row too."""
    from .pipeline.similarity import semdedup_prune

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].df
    exact = semdedup_prune(emb, k=8, n_iter=2).filter(~F.col("kept"))
    capped = semdedup_prune(
        emb, k=8, n_iter=2, max_cluster_n=64
    ).filter(~F.col("kept"))
    ex_n = exact.agg(F.count(F.lit(1)).alias("n_exact_dropped"))
    hit_n = capped.join(exact, ["vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    bad_n = capped.join(exact, ["vec_id"], "left_anti").agg(
        F.count(F.lit(1)).alias("bad")
    )
    return ex_n.crossJoin(hit_n).crossJoin(bad_n).select(
        "n_exact_dropped",
        (F.col("bad") == 0).alias("subset_ok"),
        (
            F.col("hits").cast("double")
            >= F.col("n_exact_dropped").cast("double") * F.lit(0.35)
        ).alias("recall_ok"),
    )


_SQL_LENGTH_BATCHES = f"""
    WITH toks AS ({_SQL_TOKS}),
    t AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS hh,
             CAST(({_sql_md5_int("'42:' || CAST(doc_id AS VARCHAR)", 12)}) % 4
                  AS BIGINT) AS shard
      FROM toks),
    b AS (
      SELECT doc_id, n_tokens, hh, shard,
             CAST(length(bin(n_tokens)) - 1 AS INT) AS bucket
      FROM t),
    p AS (
      SELECT doc_id, n_tokens, bucket, shard,
             row_number() OVER (PARTITION BY bucket, shard
                                ORDER BY hh, doc_id) - 1 AS pos0
      FROM b)
    SELECT doc_id, n_tokens, bucket, shard,
           CAST(pos0 // 16 AS BIGINT) AS batch_id,
           CAST(pos0 % 16 AS BIGINT) AS slot
    FROM p
"""


@query("length_batches", _SQL_LENGTH_BATCHES)
def q_length_batches(spark, sf_dir):
    """Length-bucketed batch assignment (padding-efficient loader
    batches): exact integer bit-length buckets, seeded-md5 order
    within (bucket, shard), exact bigint DIV/% batch ids. One shuffle
    on the (bucket, shard) window key."""
    from .pipeline.curation import batch_by_length

    t = load_tables(spark, sf_dir)
    return batch_by_length(
        t["documents"].df, batch_size=16, n_shards=4, seed=42
    )


_SQL_DSIR = f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), ' +') AS toks
      FROM documents),
    uni AS (SELECT doc_id, lang, unnest(toks) AS g FROM toks),
    bi AS (
      SELECT doc_id, lang,
             unnest([toks[i] || ' ' || toks[i+1]
                     for i in range(1, len(toks))]) AS g
      FROM toks WHERE len(toks) >= 2),
    gr AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    bk AS (
      SELECT doc_id, lang,
             CAST(({_sql_md5_int("g", 12)}) % 10000 AS BIGINT) AS b
      FROM gr),
    raw AS (SELECT b, COUNT(*) AS r FROM bk GROUP BY b),
    tgt AS (SELECT b, COUNT(*) AS t FROM bk WHERE lang = 'en' GROUP BY b),
    tot AS (
      SELECT (SELECT COUNT(*) FROM bk) AS rr,
             (SELECT COUNT(*) FROM bk WHERE lang = 'en') AS tt),
    lam AS (
      SELECT raw.b,
             CAST({sql_round(
                 "ln((COALESCE(t, 0) + 1)::DOUBLE / (tt + 10000)::DOUBLE) * 1e6", 0
             )} AS BIGINT)
           - CAST({sql_round(
                 "ln((r + 1)::DOUBLE / (rr + 10000)::DOUBLE) * 1e6", 0
             )} AS BIGINT)
               AS lam
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
    db AS (SELECT doc_id, b, COUNT(*) AS k FROM bk GROUP BY 1, 2),
    sc AS (
      SELECT doc_id, SUM(k) AS n_feats, SUM(k * lam) AS s
      FROM db JOIN lam USING (b) GROUP BY doc_id)
    SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
           CAST(s AS BIGINT) AS dsir_micro,
           (row_number() OVER (ORDER BY s DESC, doc_id) <= 100) AS kept
    FROM sc
"""


@query("dsir_select", _SQL_DSIR)
def q_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    importance weights toward the English-document target — per-bucket
    add-one log-likelihood ratios in separately-quantized integer
    micro-nats (the bigram_lm convention), exact bigint doc weights,
    top-100 kept flag. No float in the output."""
    from .pipeline.curation import dsir_select

    t = load_tables(spark, sf_dir)
    docs = t["documents"].df
    return dsir_select(
        docs, docs.filter(F.col("lang") == "en"),
        n_buckets=10000, keep_top=100,
    )


@query("decontaminate_bloom", _SQL_DECONTAMINATE)
def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prescreened decontamination, SAME oracle as
    decontaminate_ngrams: the relational Bloom filter (md5 bit
    positions -> bit_or word packing -> one broadcast bitmap row) can
    only ADMIT false positives and the exact verify join removes them,
    so the output is bit-identical to the broadcast-exact form. The
    posture for benchmark gram sets too large to broadcast as strings:
    a fixed 128 KB bitmap broadcast + a candidates-only shuffle join
    replace the full gram-set broadcast."""
    from .pipeline.curation import decontaminate_bloom

    t = load_tables(spark, sf_dir)
    docs = t["documents"].df
    corpus = docs.filter(F.col("doc_id") % 53 != 0)
    benchmark = docs.filter(F.col("doc_id") % 53 == 0)
    return decontaminate_bloom(corpus, benchmark, n=4)


_SQL_HEAVY_HITTERS = """
    WITH ex AS (
      SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS token
      FROM documents),
    tot AS (SELECT COUNT(*) AS n_tot FROM ex)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM ex CROSS JOIN tot
    GROUP BY token, n_tot
    HAVING COUNT(*) >= (n_tot * 5 + 999) // 1000
"""


@query("heavy_hitters_cm", _SQL_HEAVY_HITTERS)
def q_heavy_hitters_cm(spark, sf_dir):
    """Count-Min-prescreened heavy hitters (phi = 5 per mille): the
    d x w counter sketch bounds the counting shuffle to d*w rows, the
    min-estimate filters occurrences map-side, and the exact verify
    drops CM false positives -- output exactly the plain HAVING query
    (CM never underestimates, so no true heavy hitter is lost).
    Exact-integer threshold arithmetic throughout."""
    from .pipeline.text import heavy_hitters_cm

    t = load_tables(spark, sf_dir)
    return heavy_hitters_cm(t["documents"].df, phi_permille=5)


_SQL_QUALITY_QUANTILE = f"""
    WITH toks AS ({_SQL_TOKS}),
    q AS (
      SELECT doc_id, source,
             len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)
               AS ttr
      FROM (SELECT t.doc_id, d.source, t.toks
            FROM toks t JOIN documents d USING (doc_id))
    ),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY ttr DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM q)
    SELECT doc_id, source, (rk <= (n * 50 + 99) // 100) AS kept
    FROM r
"""


@query("quality_quantile_filter", _SQL_QUALITY_QUANTILE)
def q_quality_quantile_filter(spark, sf_dir):
    """Per-source quality-quantile filter (keep the top 50% of each
    source by type-token ratio): the relative cut real pipelines use
    across heterogeneous domains. The ratio is an exact division of
    exact integers (bit-identical ordering in both engines); the keep
    rule is exact integer ceil arithmetic; output carries no floats.
    One window partitioning on the source key."""
    from .pipeline.curation import quality_quantile_filter

    t = load_tables(spark, sf_dir)
    return quality_quantile_filter(t["documents"].df, keep_pct=50)


_SQL_SAMPLE_N_PER_SOURCE = """
    WITH h AS (
      SELECT doc_id, source,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS hh
      FROM documents),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY hh, doc_id) AS BIGINT)
               AS pos
      FROM h)
    SELECT doc_id, source, pos FROM r WHERE pos <= 5
"""


@query("sample_n_per_source", _SQL_SAMPLE_N_PER_SOURCE)
def q_sample_n_per_source(spark, sf_dir):
    """Deterministic fixed-count per-group sample (5 docs per source,
    seeded-md5 order — reproducible on any engine/partitioning): the
    count-form twin of the rate-based stratified_sample. One window
    shuffle."""
    from .pipeline.curation import sample_n_per_group

    t = load_tables(spark, sf_dir)
    return sample_n_per_group(t["documents"].df, n=5)


_SQL_GOPHER = """
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), ' +') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
             AS BIGINT) AS total_len,
        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
          AS symbols,
        CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
             AS BIGINT) AS alpha_words,
        CAST(len(list_distinct(list_filter(toks, t -> t IN
          ('the','be','to','of','and','that','have','with'))))
             AS BIGINT) AS stop_hits
      FROM t
    )
    SELECT doc_id, n_words,
      (n_words >= 30 AND n_words <= 100000) AS flag_word_count,
      (total_len >= 3 * n_words AND total_len <= 10 * n_words)
        AS flag_mean_word_len,
      (symbols * 10 < n_words * 1) AS flag_symbol_ratio,
      (alpha_words * 100 >= n_words * 80) AS flag_alpha_words,
      (stop_hits >= 1) AS flag_stop_words,
      ((n_words >= 30 AND n_words <= 100000)
       AND (total_len >= 3 * n_words AND total_len <= 10 * n_words)
       AND (symbols * 10 < n_words * 1)
       AND (alpha_words * 100 >= n_words * 80)
       AND (stop_hits >= 1)) AS keep
    FROM m
"""


@query("gopher_quality", _SQL_GOPHER)
def q_gopher_quality(spark, sf_dir):
    """Gopher document-quality rules (Rae et al. 2021 §A1.1) as
    float-free per-rule flags + composite keep. Narrow projection, no
    shuffle; thresholds cross-multiplied into exact bigint comparisons
    so no rule can flip on float drift."""
    from .pipeline import gopher_quality_filter

    t = load_tables(spark, sf_dir)
    return gopher_quality_filter(
        t["documents"].df, min_words=30, min_stop_words=1
    )


_SQL_LINE_DEDUP = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, 2)) AS start
      FROM t
    ),
    l AS (
      SELECT doc_id,
             CAST((start - 1) // 2 AS BIGINT) AS line_no,
             array_to_string(toks[start:start+1], ' ') AS line
      FROM st
    ),
    b AS (
      SELECT line FROM l GROUP BY line
      HAVING COUNT(DISTINCT doc_id) >= 20
    ),
    f AS (
      SELECT l.doc_id, l.line_no, l.line,
             (b.line IS NOT NULL) AS boiler
      FROM l LEFT JOIN b ON l.line = b.line
    )
    SELECT doc_id,
      coalesce(string_agg(CASE WHEN NOT boiler THEN line END, chr(10)
                          ORDER BY line_no), '') AS text_clean,
      CAST(count(*) FILTER (WHERE NOT boiler) AS BIGINT) AS kept_lines,
      CAST(count(*) FILTER (WHERE boiler) AS BIGINT) AS dropped_lines
    FROM f
    GROUP BY doc_id
"""


@query("line_dedup_boilerplate", _SQL_LINE_DEDUP)
def q_line_dedup(spark, sf_dir):
    """CCNet/RefinedWeb line-level boilerplate removal: drop lines
    repeated across >= 20 distinct documents, reassemble the rest in
    order. The synthetic corpus has no newlines, so lines are
    synthesized as exact 2-token runs (lineify) identically in both
    engines; the operator itself is line-structure-agnostic. One
    line-digest shuffle + broadcast boilerplate join."""
    from .pipeline import line_dedup, lineify

    t = load_tables(spark, sf_dir)
    lines = lineify(t["documents"].df, tokens_per_line=2)
    return line_dedup(lines, max_df=20)


_SQL_WEB_CURATION = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      FROM documents
    ),
    st AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, 2)) AS start
      FROM t
    ),
    l AS (
      SELECT doc_id,
             CAST((start - 1) // 2 AS BIGINT) AS line_no,
             array_to_string(toks[start:start+1], ' ') AS line
      FROM st
    ),
    b AS (
      SELECT line FROM l GROUP BY line
      HAVING COUNT(DISTINCT doc_id) >= 40
    ),
    cleaned AS (
      SELECT doc_id,
        coalesce(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
                            ' ' ORDER BY l.line_no), '') AS text_clean
      FROM l LEFT JOIN b ON l.line = b.line
      GROUP BY doc_id
    ),
    g AS (
      SELECT doc_id, text_clean,
             regexp_split_to_array(trim(text_clean), ' +') AS ctoks
      FROM cleaned WHERE text_clean <> ''
    ),
    m AS (
      SELECT doc_id, text_clean,
        CAST(len(ctoks) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(ctoks, t -> length(t))), 0)
             AS BIGINT) AS total_len,
        CAST(len(list_distinct(list_filter(ctoks, t -> t IN
          ('the','be','to','of','and','that','have','with'))))
             AS BIGINT) AS stop_hits
      FROM g
    ),
    kept AS (
      SELECT doc_id, text_clean, n_words FROM m
      WHERE n_words >= 20 AND n_words <= 100000
        AND total_len >= 3 * n_words AND total_len <= 10 * n_words
        AND stop_hits >= 1
    )
    SELECT md5(text_clean) AS digest,
           CAST(MIN(doc_id) AS BIGINT) AS doc_id,
           CAST(MIN(n_words) AS BIGINT) AS n_words
    FROM kept
    GROUP BY md5(text_clean)
"""


@query("web_curation_pipeline", _SQL_WEB_CURATION)
def q_web_curation_pipeline(spark, sf_dir):
    """End-to-end web-curation composition (the FineWeb/RefinedWeb
    stage order): line-level boilerplate removal (lineify + line_dedup)
    -> Gopher quality filter on the CLEANED text -> exact dedup of the
    surviving cleaned documents (min-doc_id keep). Exercises the new
    operators composing with each other and with dedup_exact — two
    corpus scans + one doc_id shuffle from line_dedup, a zero-shuffle
    quality projection, and one digest shuffle from the final dedup."""
    from .pipeline import gopher_quality_filter, line_dedup, lineify

    t = load_tables(spark, sf_dir)
    docs = t["documents"].df
    cleaned = line_dedup(
        lineify(docs, tokens_per_line=2), max_df=40, line_sep=" "
    ).filter(F.col("text_clean") != "")
    flags = gopher_quality_filter(
        cleaned.select("doc_id", F.col("text_clean").alias("text")),
        min_words=20, min_stop_words=1,
    ).filter("keep").select("doc_id")
    kept = cleaned.join(flags, "doc_id").select(
        "doc_id", "text_clean",
        F.size(F.split(F.trim("text_clean"), " +")).cast("long").alias(
            "n_words"
        ),
    )
    return (
        kept.groupBy(F.md5("text_clean").alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("n_words").alias("n_words"),
        )
    )

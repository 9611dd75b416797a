"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, keep-best canonicalization of duplicate clusters,
document chunking, and repetition metrics.

These extend the reference's dedup surface (R/duplicated.R) with the
steps an LLM training-data pipeline runs after near-dup detection.
Portability rules as elsewhere in pipeline/: exact integer counts with
one final division, so the DuckDB oracle matches bit-for-bit.

Scale posture (100 TB):
- decontaminate: the benchmark side is tiny by construction (eval
  suites are MBs, the corpus is TBs) — its distinct n-gram set is
  broadcast, so the corpus streams through a broadcast-hash semi-join
  with NO shuffle of corpus n-grams.
- keep_best: composes dedup_clusters (blocked pair join + star-
  contraction CC) with a per-cluster window rank — one extra shuffle on
  cluster_id, which is the minimum any per-cluster selection needs.
- chunk_documents: narrow (explode of per-doc start offsets), no
  shuffle; output rows ~ tokens/stride per doc.
- repetition_metrics: one shuffle on doc_id shared by both aggregates
  (token counts, bigram distincts); everything whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core import materialize
from .dedup import dedup_clusters, shingle_rows, spread
from .text import tokens_col

__all__ = [
    "decontaminate",
    "keep_best",
    "chunk_documents",
    "repetition_metrics",
    "mixture_sample",
    "token_mixture_sample",
    "split_by_cluster",
    "shuffle_shards",
    "pack_sequences",
    "batch_by_length",
    "dsir_select",
    "decontaminate_bloom",
    "quality_quantile_filter",
    "sample_n_per_group",
    "chunk_documents_udtf",
    "gopher_quality_filter",
]

GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_ratio_x10: int = 1,
    min_alpha_word_pct: int = 80,
    min_stop_words: int = 2,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, §A1.1) as one
    narrow relational projection — per-rule boolean flags plus the
    composite keep, so a pipeline can either filter or audit which rule
    fired. Extends the reference's row-filter surface (`DT[i]`,
    R/data.table.R i-eval) with the published rule set LLM pipelines
    apply before dedup.

    Every rule is evaluated FLOAT-FREE by cross-multiplying the
    published thresholds: mean word length in [3,10] becomes
    3*n <= total_len <= 10*n; symbol ratio < 0.1 becomes
    10*symbols < n; alpha-word fraction >= 0.8 becomes
    100*alpha_words >= 80*n. Exact bigints end-to-end, so the DuckDB
    oracle matches bit-for-bit and no threshold can flip on float
    drift.

    Scale posture (100 TB): no shuffle at all — one projection over the
    scan, whole-stage codegen, every rule a column expression. The
    line-shaped Gopher rules (bullet/ellipsis line ratios) need a
    line-structured corpus; see line_dedup for line plumbing.
    """
    toks = tokens_col(text_col)
    n = F.size(toks).cast("long")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    # '#' or literal '...' occurrences (both regex engines scan
    # greedily left-to-right, so overlapping dots count identically)
    symbols = F.size(
        F.expr(f"regexp_extract_all({text_col}, '#|\\\\.\\\\.\\\\.', 0)")
    ).cast("long")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    ).cast("long")
    stop_hits = F.size(
        F.array_distinct(
            F.filter(toks, lambda t: t.isin(*GOPHER_STOP_WORDS))
        )
    ).cast("long")

    f_words = (n >= min_words) & (n <= max_words)
    f_mean = (total_len >= min_mean_word_len * n) & (
        total_len <= max_mean_word_len * n
    )
    f_symbol = symbols * 10 < n * max_symbol_ratio_x10
    f_alpha = alpha_words * 100 >= n * min_alpha_word_pct
    f_stop = stop_hits >= min_stop_words
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        f_words.alias("flag_word_count"),
        f_mean.alias("flag_mean_word_len"),
        f_symbol.alias("flag_symbol_ratio"),
        f_alpha.alias("flag_alpha_words"),
        f_stop.alias("flag_stop_words"),
        (f_words & f_mean & f_symbol & f_alpha & f_stop).alias("keep"),
    )


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing any word
    n-gram with a benchmark/eval set (the n-gram-overlap rule used by
    public LLM data pipelines; n=13 is the common production choice —
    lower here only because the synthetic corpus is short).

    Returns (doc_id, n_shared_grams): contaminated corpus docs with the
    count of DISTINCT benchmark n-grams they contain. Anti-joining the
    result against the corpus yields the clean split.

    Shape: corpus n-grams stream map-side against the BROADCAST distinct
    benchmark n-gram set — no corpus-side shuffle for the probe; the
    only shuffle is the per-doc count aggregation on doc_id.
    """
    cg = shingle_rows(corpus, n)
    bg = shingle_rows(benchmark, n).select("s").distinct()
    return (
        cg.join(F.broadcast(bg), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """`decontaminate` with a Bloom-filter PRESCREEN — the posture for
    when the benchmark gram set is too large to broadcast as exact
    strings (a 100 TB pipeline decontaminating against many eval
    suites at n=13 can hold hundreds of millions of grams; the exact
    set is GBs of strings, the Bloom bitmap is m_bits/8 bytes — 128 KB
    at the default 2^20). Final semantics are IDENTICAL to
    `decontaminate` (same (doc_id, n_shared_grams) rows): the Bloom
    pass can only admit false positives and the exact verify removes
    them, so this query shares decontaminate's oracle bit-for-bit.

    Construction is fully relational — Spark exposes no public
    bloom_filter_agg, and none is needed:
    - benchmark grams hash to `n_hashes` bit positions each (the
      md5-prefix integer idiom, j-prefixed per hash — deterministic,
      engine-free of RNG);
    - bits pack into 64-bit words with ONE bit_or aggregation; a
      range-join against spark.range(m_bits/64) zero-fills absent
      words and a single collect_list packs the dense bitmap as ONE
      array<long> row (the tiny-stats crossJoin-broadcast idiom);
    - the corpus probe is pure codegen: each gram re-derives its
      n_hashes positions and AND-tests `(bm[pos DIV 64] >> (pos % 64))
      & 1` — array indexing into the broadcast bitmap, no join, no
      corpus shuffle;
    - survivors (exact matches + Bloom false positives, expected rate
      ~(1-e^{-hn/m})^h) carry forward to the exact equi-join on the
      gram — now a SHUFFLE join whose corpus side is only the
      candidates, instead of a broadcast of the full gram set.

    The two-stage shape trades one broadcast of strings for one
    broadcast of a fixed-size bitmap plus a candidate-only shuffle —
    at a 0.1% candidate rate the exact join touches 1/1000th of the
    corpus grams."""
    if m_bits % 64 != 0 or m_bits < 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    n_words = m_bits // 64

    # SQL-string forms: the bit shifts need column-valued shift
    # amounts, which the Python shiftleft/shiftright helpers don't
    # accept — expr() does
    def pos_sql(j: int) -> str:
        return (
            f"CAST(conv(substring(md5(concat('{j}:', s)), 1, 12), 16, 10)"
            f" AS BIGINT) % {int(m_bits)}"
        )

    cg = shingle_rows(corpus, n)
    bg = shingle_rows(benchmark, n).select("s").distinct()

    bits = bg.select(
        F.explode(
            F.array(*[F.expr(pos_sql(j)) for j in range(n_hashes)])
        ).alias("bit")
    ).distinct()
    words = bits.select(
        F.expr("bit DIV 64").cast("long").alias("word"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))"
        ).alias("mask"),
    ).groupBy("word").agg(F.bit_or("mask").alias("bits"))
    wseq = corpus.sparkSession.range(n_words).select(
        F.col("id").cast("long").alias("word")
    )
    bitmap = (
        wseq.join(words, "word", "left")
        .select("word", F.coalesce(F.col("bits"), F.lit(0).cast("long")).alias("bits"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word", "bits"))),
                lambda s: s["bits"],
            ).alias("bm")
        )
    )

    probe = None
    for j in range(n_hashes):
        p = pos_sql(j)
        hit = F.expr(
            f"(shiftright(element_at(bm, CAST(({p}) DIV 64 AS INT) + 1),"
            f" CAST(({p}) % 64 AS INT)) & 1) = 1"
        )
        probe = hit if probe is None else (probe & hit)
    candidates = (
        cg.crossJoin(F.broadcast(bitmap)).filter(probe).select("doc_id", "s")
    )
    return (
        candidates.join(bg, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


def keep_best(
    docs: DataFrame, threshold: float = 0.8, n: int = 3
) -> DataFrame:
    """Canonical-document selection: one keeper per near-duplicate
    cluster, chosen by quality (longest token count, doc_id as the
    deterministic tiebreak) rather than min-id.

    This is the curation step after clustering: `dedup_clusters` labels
    every doc with its component, `keep_best` picks which row survives.
    Returns (cluster_id, doc_id, n_tokens) — one row per cluster.
    """
    clusters = dedup_clusters(docs, threshold, n)
    quality = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("cluster_id", "doc_id", "n_tokens")
    )


def chunk_documents(
    docs: DataFrame, size: int = 32, overlap: int = 8
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the
    context-window packing step of a training pipeline). Chunk k of a
    doc starts at token 1 + k*stride (stride = size - overlap) and takes
    up to `size` tokens; the tail chunk may be shorter.

    Narrow: per-row explode of start offsets, no shuffle. Output is
    (doc_id, chunk_id, chunk_text, n_tokens).
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    toks = tokens_col("text")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(stride)
    )
    ex = (
        spread(docs)
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.posexplode(starts).alias("chunk_id", "start"),
        )
    )
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(F.slice("toks", F.col("start"), size), " ").alias(
            "chunk_text"
        ),
        F.least(
            F.lit(size), F.size("toks") - F.col("start") + 1
        ).cast("long").alias("n_tokens"),
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document:
    - top_token_ratio: occurrences of the most frequent token / tokens
    - dup_2gram_ratio: fraction of bigram occurrences that are repeats
      of an earlier bigram, (total - distinct) / total

    Both are exact integer counts with one final division (portable).
    Documents with fewer than 2 tokens have no bigrams and are dropped
    (both engines agree). One shuffle on doc_id feeds both aggregates.
    """
    tok = spread(docs).select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "tok")
    )
    tc = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (
                F.max("c").cast("double") / F.sum("c")
            ).alias("top_token_ratio")
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("bg"),
        F.lead("tok", 1).over(w).alias("__f__"),
    ).filter(F.col("__f__").isNotNull())
    bs = bg.groupBy("doc_id").agg(
        (
            (F.count(F.lit(1)) - F.count_distinct(F.col("bg")))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("dup_2gram_ratio")
    )
    return tc.join(bs, "doc_id")


def mixture_sample(
    df: DataFrame,
    targets: dict[str, int],
    budget_pct: int = 50,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Target-mixture sampling: pick per-group keep rates so the sample
    approximates a TARGET mixture over ``group_col`` (the data-mixing
    step of a training run: "web 50%, books 25%, code 25%" over a
    corpus whose observed mix is whatever crawling produced).

    ``targets`` maps group value -> integer share WEIGHT (relative;
    groups absent from the dict are dropped). The overall sample budget
    is ``budget_pct`` percent of the corpus. For each group g:

        T      = total_rows * budget_pct div 100
        want_g = T * share_g div share_total
        thr_g  = min(2^24, want_g * 2^24 div count_g)   (rate capped at 1)

    and a row is kept iff the top-24-bit integer of md5(id) < thr_g —
    the same deterministic content-hash gate as hash_sample, so the
    sample is reproducible across engines, runs, partitionings, and
    cluster sizes, and all rate arithmetic is EXACT bigint (div, never
    float division, so both engines compute identical thresholds).

    Scale shape (100 TB): one tiny per-group count aggregate + a 1-row
    total, broadcast back as a (group, threshold) plan table; the
    corpus itself streams through a broadcast-hash join + narrow
    filter. No corpus shuffle at all. Groups whose want exceeds their
    count keep everything (rate cap) — the standard behavior when a
    target mixture over-asks a small source (epoch reweighting, not
    row duplication, is the fix upstream).
    """
    share_total = sum(targets.values())
    if share_total <= 0:
        raise ValueError("mixture_sample targets must have positive total weight")
    share = None
    for g, s in targets.items():
        cond = F.col(group_col) == F.lit(g)
        share = F.when(cond, F.lit(int(s))) if share is None else share.when(cond, F.lit(int(s)))
    share = share.otherwise(F.lit(0))

    cnt = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cnt"))
    tot = df.agg(F.count(F.lit(1)).alias("_tot"))
    plan = (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn("_share", share)
        .filter(F.col("_share") > 0)
        .withColumn("_T", F.expr(f"_tot * {int(budget_pct)} DIV 100"))
        .withColumn("_want", F.expr(f"_T * _share DIV {int(share_total)}"))
        .withColumn(
            "_thr",
            F.least(F.lit(1 << 24), F.expr(f"_want * {1 << 24} DIV _cnt")),
        )
        .select(group_col, "_thr")
    )
    h24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    return (
        df.join(F.broadcast(plan), group_col)
        .filter(h24 < F.col("_thr"))
        .select(id_col, group_col)
    )


def epoch_upsample(
    df: DataFrame,
    factors: dict[str, float],
    id_col: str = "doc_id",
    group_col: str = "source",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic per-source EPOCH UPSAMPLING — the complement of
    mixture_sample's rate-capped downsampling (its docstring defers
    over-asked sources to "epoch reweighting upstream"; this is that
    operator). ``factors`` maps group value -> replication factor f:
    every row is emitted floor(f) times, plus one more iff the
    top-24-bit integer of md5(id) is below frac(f)*2^24 — so a factor
    of 2.5 replays every row twice and a deterministic, content-stable
    half of the rows a third time. ``epoch_col`` numbers the copies
    0..copies-1 (which training pass sees the copy). f < 1 degenerates
    to the hash sampler; groups absent from ``factors`` are dropped
    (same explicit-enumeration contract as mixture_sample).

    Exactness: f is quantized to 2^-24 fixed point (q = round(f*2^24))
    and all arithmetic from q on is integer (shiftright / mod), so both
    engines compute identical copy counts from identical integers.

    Scale shape (100 TB): factors are LITERALS, so the plan is a
    narrow when-chain + array_repeat/posexplode generate — no
    aggregate, no join, no shuffle of any kind; output partitioning
    inherits the input's. Row growth is bounded by max(f).
    """
    scale = 1 << 24
    q = None
    for g, f in factors.items():
        if f < 0:
            raise ValueError(f"epoch_upsample factor for {g!r} is negative")
        qi = int(round(f * scale))
        cond = F.col(group_col) == F.lit(g)
        q = F.when(cond, F.lit(qi)) if q is None else q.when(cond, F.lit(qi))
    q = q.otherwise(F.lit(None))
    h24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    copies = (
        F.shiftright(q, 24)
        + (h24 < (q % F.lit(scale))).cast("int")
    ).cast("int")
    return (
        df.select(id_col, group_col)
        .withColumn("_copies", copies)
        .filter(F.col("_copies").isNotNull())
        .select(
            id_col,
            group_col,
            F.posexplode(F.array_repeat(F.lit(1), F.col("_copies"))).alias(
                epoch_col, "_one"
            ),
        )
        .drop("_one")
    )


def split_by_cluster(
    docs: DataFrame,
    threshold: float = 0.8,
    test_pct: int = 20,
) -> DataFrame:
    """Leakage-free train/test split: assign each document to a split
    by hashing its duplicate-CLUSTER representative, not its own id,
    so near-duplicate documents always land on the same side (splitting
    by row id leaks eval rows into training through their rewrites —
    the classic contamination bug this operator exists to prevent).

    Composes dedup_clusters (blocked pair join + star-contraction CC;
    singletons keep their own id) with one narrow projection:
    split = 'test' iff (top-16-bit integer of md5(cluster_id)) mod 100
    < test_pct, else 'train'. Deterministic across engines/runs/
    partitionings; the whole-cluster granularity means realized test
    share converges to test_pct over many clusters rather than being
    exact per-row.

    Scale shape: cost is the clustering itself (see dedup_clusters);
    the split assignment adds zero shuffles.
    """
    labels = dedup_clusters(docs, threshold=threshold)
    h = F.conv(
        F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.when(h % 100 < test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Deterministic global shuffle into training shards: every row gets
    (shard, pos) such that reading shards in order, each sorted by pos,
    visits the corpus in a seeded pseudo-random permutation — the
    "shuffle the corpus before training" step, made reproducible (same
    seed -> same order on any cluster size/partitioning/engine, unlike
    rand()-based orderBy).

    shard = top-48-bit integer of md5(seed:id) mod n_shards;
    pos    = row_number within shard ordered by (md5(seed:id), id).
    48 bits keeps every shard reachable and the modulo bias < 2^-31
    even at the ~1e5 shards a 100 TB corpus wants (16 bits capped the
    shard space at 65536 — ADVICE r5).

    Scale shape (100 TB): shard assignment is a narrow hash projection;
    per-shard positions are ONE row_number window partitioned by shard
    — a single shuffle on shard. Each shard's numbering runs in one
    task, so n_shards must scale with the corpus (pick n_shards ~
    corpus_size / 1 GB; at 100 TB that's ~10^5 shards, each a
    single-task sort of ~1 GB — exactly the shard files a training
    loader wants). The md5 sort key is uniformly distributed, so shards
    are balanced within binomial noise.
    """
    h = F.md5(
        F.concat(F.lit(f"{int(seed)}:"), F.col(id_col).cast("string"))
    )
    d = df.select(F.col(id_col), h.alias("_h"))
    shard = (
        F.conv(F.substring("_h", 1, 12), 16, 10).cast("long")
        % int(n_shards)
    ).alias("shard")
    d = d.select(id_col, "_h", shard)
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
    return d.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def token_mixture_sample(
    df: DataFrame,
    targets: dict[str, int],
    budget_pct: int = 50,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Target-mixture sampling with the budget measured in TOKENS —
    how real training mixes are specified ("web 50%, books 25%, code
    25% of the TOKEN budget"): `mixture_sample` hits document-count
    targets, which skews the token mix when sources' document lengths
    differ (books are long, chat is short).

    Same machinery, token-weighted: per-group TOKEN totals replace row
    counts, so for group g

        T      = total_tokens * budget_pct div 100
        want_g = T * share_g div share_total
        thr_g  = min(2^24, want_g * 2^24 div tokens_g)   (rate cap 1)

    and the row gate is the identical md5(id) top-24-bit threshold —
    deterministic, engine-portable, exact bigint arithmetic. The
    sampled token count per group is want_g in EXPECTATION (documents
    are kept whole; a per-row running cutoff would hit the budget
    exactly but needs a per-group ordered scan — the expectation form
    keeps the zero-corpus-shuffle posture: one small token-total
    aggregate broadcast back, corpus streams through a narrow filter).
    Output: (id, group, n_tokens) of kept docs."""
    share_total = sum(targets.values())
    if share_total <= 0:
        raise ValueError(
            "token_mixture_sample targets must have positive total weight"
        )
    share = None
    for g, s in targets.items():
        cond = F.col(group_col) == F.lit(g)
        share = (
            F.when(cond, F.lit(int(s)))
            if share is None
            else share.when(cond, F.lit(int(s)))
        )
    share = share.otherwise(F.lit(0))

    sized = df.withColumn(
        "__nt__", F.size(tokens_col(text_col)).cast("long")
    )
    cnt = sized.groupBy(group_col).agg(F.sum("__nt__").alias("_toks"))
    tot = sized.agg(F.sum("__nt__").alias("_tot"))
    plan = (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn("_share", share)
        .filter(F.col("_share") > 0)
        .withColumn("_T", F.expr(f"_tot * {int(budget_pct)} DIV 100"))
        .withColumn(
            "_want", F.expr(f"_T * _share DIV {int(share_total)}")
        )
        .withColumn(
            "_thr",
            F.least(
                F.lit(1 << 24), F.expr(f"_want * {1 << 24} DIV _toks")
            ),
        )
        .select(group_col, "_thr")
    )
    h24 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    return (
        sized.join(F.broadcast(plan), group_col)
        .filter(h24 < F.col("_thr"))
        .select(id_col, group_col, F.col("__nt__").alias("n_tokens"))
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Concatenate-and-split sequence packing over the SHUFFLED layout:
    assign every document a (shard, seq_id, seq_offset) such that
    concatenating each shard's docs in order and cutting every
    ``budget`` tokens yields the training sequences — seq_id is the
    sequence where the doc STARTS and seq_offset its position inside
    it (GPT-style packing cuts mid-doc; the offsets let the loader
    recover cut points without re-tokenizing). The layout is the
    deterministic `shuffle_shards` one: seed-prefixed md5 assigns
    shards and orders docs within them, so the same seed reproduces
    the same pack on any engine, cluster size, or partitioning.

    Companion, not duplicate, of the `sequence_packing` driver query:
    that one bins 32/8 CHUNKS in corpus (doc_id, chunk_id) order per
    source — the pre-shuffle, chunk-granular view; this one packs
    whole documents in the seeded SHUFFLE order the trainer actually
    reads, and carries the offsets the loader needs to cut.

    Scale shape (100 TB): one narrow hash projection + ONE shuffle on
    the shard key; the running token total is a per-shard RUNNING
    window frame (incremental — never unbounded-following). Each
    shard's scan is a single task, so pick n_shards ~ corpus_tokens /
    (a few hundred M) exactly as for shuffle_shards; there is no
    global window and nothing touches the driver."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    h = F.md5(
        F.concat(F.lit(f"{int(seed)}:"), F.col(id_col).cast("string"))
    )
    d = spread(docs).select(
        F.col(id_col),
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
        h.alias("_h"),
    )
    shard = (
        F.conv(F.substring("_h", 1, 12), 16, 10).cast("long")
        % int(n_shards)
    ).alias("shard")
    d = d.select(id_col, "n_tokens", "_h", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_h"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    # exact bigint DIV/% (float division would drift on the huge
    # running totals a 100 TB shard accumulates)
    return d.select(
        id_col, "shard", "n_tokens", prev.alias("_prev")
    ).select(
        id_col,
        "shard",
        F.expr(f"_prev DIV {int(budget)}").cast("long").alias("seq_id"),
        (F.col("_prev") % budget).cast("long").alias("seq_offset"),
        "n_tokens",
    )


def batch_by_length(
    docs: DataFrame,
    batch_size: int = 16,
    n_shards: int = 4,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch assignment — the loader step between
    shuffling and collation: group documents of similar token length
    into fixed-size batches so per-batch padding waste stays bounded
    (batching a 10-token doc with a 4096-token doc pads 99.8% of the
    short row). Output: (doc_id, n_tokens, bucket, shard, batch_id,
    slot).

    bucket = floor(log2(n_tokens)) computed EXACTLY as
    length(bin(n_tokens)) - 1 — integer bit-length, not float log2,
    which can flip at exact powers of two (both engines share the
    bin() spelling). Within (bucket, shard) docs take the seeded-md5
    order of `shuffle_shards` (same 48-bit prefix idiom), so the same
    seed reproduces the same batches on any engine, cluster size, or
    partitioning; batch_id/slot are exact bigint DIV/% of the in-
    partition position.

    Scale shape (100 TB): one narrow projection (tokens, bucket,
    hash), then ONE shuffle on (bucket, shard) for the row_number
    window. Buckets alone would hot-spot (few buckets, huge rows-per-
    bucket), so the shard key splits each bucket into n_shards
    independent single-task sorts — pick n_shards ~ corpus / 1 GB
    exactly as for shuffle_shards. Tail batches (fewer than
    batch_size rows) stay assigned; the loader drops or pads them."""
    if batch_size < 1 or n_shards < 1:
        raise ValueError("batch_size and n_shards must be >= 1")
    h = F.md5(
        F.concat(F.lit(f"{int(seed)}:"), F.col(id_col).cast("string"))
    )
    d = spread(docs).select(
        F.col(id_col),
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
        h.alias("_h"),
    )
    shard = (
        F.conv(F.substring("_h", 1, 12), 16, 10).cast("long")
        % int(n_shards)
    ).alias("shard")
    bucket = (F.length(F.bin(F.col("n_tokens"))) - 1).cast("int")
    d = d.select(
        id_col, "n_tokens", "_h", bucket.alias("bucket"), shard
    )
    w = Window.partitionBy("bucket", "shard").orderBy(
        F.col("_h"), F.col(id_col)
    )
    pos0 = F.row_number().over(w) - 1
    return d.select(
        id_col, "n_tokens", "bucket", "shard", pos0.alias("_p")
    ).select(
        id_col,
        "n_tokens",
        "bucket",
        "shard",
        F.expr(f"_p DIV {int(batch_size)}").cast("long").alias("batch_id"),
        (F.col("_p") % batch_size).cast("long").alias("slot"),
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 10000,
    keep_top: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    rank raw documents by hashed-n-gram importance weights toward a
    TARGET distribution — the data-selection step between quality
    filtering (absolute) and mixture sampling (per-source): "make the
    kept corpus look like the target" rather than "keep good docs" or
    "hit source shares". Output: (doc_id, n_feats, dsir_micro, kept).

    Model: word unigrams + bigrams hashed into `n_buckets` buckets
    (the md5-prefix integer idiom — engine-portable, unlike xxhash);
    per-bucket add-one log-likelihood ratio
        λ_b = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))
    with each ln SEPARATELY quantized to integer micro-nats
    (round(ln·1e6) — the bigram_lm_scores convention, so the only
    cross-engine float op is one ln-rounding per count and every
    downstream product/sum/difference is exact bigint); a document's
    weight is the exact Σ k_g·λ_b over its gram occurrences. `kept`
    marks the top `keep_top` weights (ties broken by id) — the output
    carries NO floats at all.

    Scale shape (100 TB): gram assembly is the codegen posexplode +
    lead-window encoding (one doc_id shuffle); bucket counts are two
    map-side-combined aggregates whose shuffles carry at most
    n_buckets rows each; λ is an n_buckets-row table BROADCAST to the
    per-doc scoring join; T/R are 1-row aggregates crossJoin-broadcast
    back (the repo's tiny-stats idiom). The top-N flag here is one
    global rank window (fine for gate-sized outputs); at corpus scale
    the selection threshold comes from a quantile of the weight
    distribution broadcast as a scalar — same contract, no global
    sort."""
    if n_buckets < 1 or keep_top < 0:
        raise ValueError("n_buckets must be >= 1 and keep_top >= 0")

    def grams(df: DataFrame) -> DataFrame:
        tok = spread(df).select(
            F.col(id_col),
            F.posexplode(tokens_col(text_col)).alias("pos", "w"),
        )
        w = Window.partitionBy(id_col).orderBy("pos")
        uni = tok.select(id_col, F.col("w").alias("g"))
        bi = (
            tok.select(
                id_col,
                F.concat_ws(
                    " ", F.col("w"), F.lead("w").over(w)
                ).alias("g"),
                F.lead("w").over(w).alias("_w2"),
            )
            .filter(F.col("_w2").isNotNull())
            .select(id_col, "g")
        )
        b = (
            F.conv(F.substring(F.md5("g"), 1, 12), 16, 10).cast("long")
            % int(n_buckets)
        )
        return uni.unionAll(bi).select(id_col, b.alias("b"))

    # r14: raw grams feed three consumers (bucket counts, the total,
    # and the per-doc table) and target grams two — each re-ran the
    # posexplode + lead-window gram assembly. The anchor form measured
    # 1.18x WORSE here (all consumers are map-side aggregates); a lazy
    # materialization of the narrow (id, bucket) rows removes the
    # repeated assembly without adding any shuffle.
    raw_g = materialize(grams(docs))
    tgt_g = materialize(grams(target))
    raw_c = raw_g.groupBy("b").agg(F.count(F.lit(1)).alias("r"))
    tgt_c = tgt_g.groupBy("b").agg(F.count(F.lit(1)).alias("t"))
    tot = raw_g.agg(F.count(F.lit(1)).alias("rr")).crossJoin(
        tgt_g.agg(F.count(F.lit(1)).alias("tt"))
    )

    def micro_ln(num, den):
        return (
            F.round(F.log(num.cast("double") / den.cast("double")) * 1e6, 0)
            .cast("long")
        )

    lam = (
        raw_c.join(tgt_c, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                micro_ln(
                    F.coalesce(F.col("t"), F.lit(0)) + 1,
                    F.col("tt") + F.lit(int(n_buckets)),
                )
                - micro_ln(
                    F.col("r") + 1, F.col("rr") + F.lit(int(n_buckets))
                )
            ).alias("lam"),
        )
    )
    db = raw_g.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("k"))
    sc = (
        db.join(F.broadcast(lam), "b")
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            F.sum(F.col("k") * F.col("lam")).cast("long").alias("dsir_micro"),
        )
    )
    wr = Window.orderBy(F.desc("dsir_micro"), F.col(id_col))
    return sc.select(
        id_col,
        "n_feats",
        "dsir_micro",
        (F.row_number().over(wr) <= int(keep_top)).alias("kept"),
    )


def quality_quantile_filter(
    docs: DataFrame,
    keep_pct: int = 50,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source quality-QUANTILE filtering — "keep the top X% of
    each source by quality", the relative form real pipelines use
    instead of one absolute threshold (sources have different quality
    distributions; an absolute cut keeps all of one domain and none
    of another). Ranks by type_token_ratio (an exact division of
    exact integers — bit-identical doubles in both engines, so the
    ordering is engine-portable; doc id breaks ties), keeps rank <=
    ceil(cnt·pct/100) per group with exact integer arithmetic.
    Output: (id, group, kept) — no floats.

    Scale shape: text_quality is a narrow projection; the rank and
    the per-group count ride ONE window partitioning on the group
    key (two window functions, same exchange). Group cardinality per
    task is the only pressure — the same n_shards-style split as
    batch_by_length applies if a single source outgrows a task."""
    if not (1 <= keep_pct <= 100):
        raise ValueError("keep_pct must be in [1, 100]")
    from .text import text_quality

    q = text_quality(docs).select(
        id_col, "type_token_ratio"
    ).join(spread(docs).select(id_col, group_col), id_col)
    wr = Window.partitionBy(group_col).orderBy(
        F.desc("type_token_ratio"), F.col(id_col)
    )
    wc = Window.partitionBy(group_col)
    return q.select(
        id_col,
        group_col,
        F.row_number().over(wr).alias("_rk"),
        F.count(F.lit(1)).over(wc).alias("_n"),
    ).select(
        id_col,
        group_col,
        (
            F.col("_rk")
            <= F.expr(f"(_n * {int(keep_pct)} + 99) DIV 100")
        ).alias("kept"),
    )


def sample_n_per_group(
    df: DataFrame,
    n: int = 5,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic fixed-COUNT sample per group (the eval-set /
    inspection primitive: "give me n docs from every source") — the
    count-form twin of the rate-based `stratified_sample`. Order
    within group is the seeded-md5 permutation (same idiom as
    shuffle_shards: reproducible on any engine, cluster size, or
    partitioning), so the sample is stable across runs and engines.
    Output: (id, group, pos 1..n). One shuffle (the group window)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    h = F.md5(
        F.concat(F.lit(f"{int(seed)}:"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("_h"), F.col(id_col))
    return (
        spread(df)
        .select(id_col, group_col, h.alias("_h"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= int(n))
        .select(id_col, group_col, "pos")
    )


def chunk_documents_udtf(
    docs: DataFrame, size: int = 32, overlap: int = 8
) -> DataFrame:
    """Spark 4 Python-UDTF twin of `chunk_documents`: the same
    context-window packing contract expressed as a user-defined TABLE
    function applied with a LATERAL join (`df.lateralJoin(udtf(...))`)
    — the §2.11 API-surface demonstration for arbitrary one-row ->
    many-rows logic the relational form can't express (here it CAN, so
    the relational `chunk_documents` remains the hot path; this twin
    shares its oracle, pinning that both forms agree bit-for-bit).

    Scale shape: the UDTF runs per input row in Python workers
    (Arrow-batched transfer when enabled by the session); no shuffle —
    the lateral join is a per-partition flatMap. Tokenization mirrors
    tokens_col (trim, split on space runs) exactly.
    """
    import re

    from pyspark.sql.functions import udtf

    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap

    @udtf(returnType="chunk_id bigint, chunk_text string, n_tokens bigint")
    class _ChunkT:
        def eval(self, text: str):
            toks = re.split(" +", (text or "").strip())
            n = max(len(toks), 1)
            k = 0
            for start in range(0, n, stride):
                seg = toks[start : start + size]
                yield k, " ".join(seg), min(size, len(toks) - start)
                k += 1

    return (
        docs.select("doc_id", "text")
        .lateralJoin(_ChunkT(F.col("text").outer()))
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
    )

"""Structured Streaming surface over the `events` table.

The reference has NO streaming (verified batch-only — SURVEY §1.3/§2.12);
this module is the north-star extension, built on Spark Structured
Streaming primitives: event-time windows (`F.window`/`F.session_window`),
watermarks for late data + state eviction, stateful dedup
(`dropDuplicatesWithinWatermark`), and stream-static joins.

Correctness-gate shape: each op also runs BATCH-equivalently — a
streaming query with `Trigger.AvailableNow` into a memory sink processes
the same parquet and must equal the batch/DuckDB answer. That is the
strongest check Structured Streaming allows (its unified semantics say a
streaming query over finite input == the batch query), and it exercises
the real streaming machinery (state store, window assignment, trigger
planning), not a batch re-implementation.

Scale posture: state size is bounded by watermarks (close windows, evict
dedup keys); shuffle partitioning of the state store follows
spark.sql.shuffle.partitions; at production scale set
spark.sql.streaming.statestore.* (RocksDB) and checkpointLocation on
durable storage. Memory sink + availableNow here are the test harness,
not the deployment shape.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exact import dsum

_RUN_COUNTER = itertools.count()

def _events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """File streams require a declared schema. Probe the parquet footer
    with a batch read — cheap, no data scan — and declare exactly what
    the batch reader produces (TIMESTAMP(NANOS) ts arrives as
    TIMESTAMP_NTZ), so the stream and batch readers agree to the
    microsecond."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet: same derivation as the
    batch loader (core.derive_event_time: ts_us/ts_ns bigint + micros
    timestamp ts), so batch and stream agree to the microsecond."""
    from ..core import derive_event_time

    raw = _parquet_stream(
        spark.readStream.schema(_events_schema(spark, sf_dir)),
        sf_dir,
        "events.parquet",
    )
    return derive_event_time(raw)


def _parquet_stream(reader, sf_dir: str, name: str) -> DataFrame:
    """Stream one named table from sf_dir, handling BOTH physical
    layouts: the driver testdata's single file (`<dir>/<name>` is a
    file → pathGlobFilter on the parent) and Spark-written output
    (`<dir>/<name>` is a DIRECTORY of part files → stream the
    directory; a name glob would match nothing and silently yield an
    empty stream, which bit the sf1 scale sweep)."""
    path = f"{sf_dir}/{name}"
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", name).parquet(sf_dir)


DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (the continuous-
    ingest posture of a training-data pipeline: each arriving file is a
    micro-batch of new documents)."""
    return _parquet_stream(
        spark.readStream.schema(DOCUMENTS_SCHEMA), sf_dir,
        "documents.parquet",
    )


def spread_stream(sdf: DataFrame) -> DataFrame:
    """Streaming twin of pipeline.dedup.spread(): a file-source
    micro-batch arrives with ONE partition per input file, which
    serializes every stateless expression-heavy stage (shingling,
    positional grams, signatures) onto one core until the first
    shuffle — measured 20s of stream_neardup_screen's 27s at bench SF.
    One round-robin repartition to the session's BUILD-TIME shuffle
    parallelism spreads that work; the partition count is resolved
    here, so run_available_now()'s small state-store override (4)
    still applies to the stateful operators downstream. (A streaming
    DataFrame cannot probe .rdd.getNumPartitions(), hence no
    already-parallel short-circuit; at production ingest the batch is
    many files and the extra stateless shuffle is the standard price
    of balancing map work across the cluster.)"""
    target = int(sdf.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return sdf.repartition(target)


def stream_decontaminate(
    docs_stream: DataFrame, bench_grams: DataFrame, n: int = 4
) -> DataFrame:
    """Streaming benchmark-contamination screen: incoming documents are
    shingled statelessly (array-HOF form — window functions are not
    allowed on streams), probed against the BROADCAST static benchmark
    n-gram set, and counted per doc. The only stateful operator is the
    per-doc count aggregation; at scale the probe itself is stateless
    map-side work per micro-batch.

    ``bench_grams``: static (s) one-column DataFrame of distinct
    benchmark n-grams (from pipeline.dedup.shingle_rows on the batch
    side)."""
    from ..pipeline.text import tokens_col, word_shingles

    ex = spread_stream(docs_stream).select(
        "doc_id", F.explode(word_shingles(tokens_col("text"), n)).alias("s")
    )
    return (
        ex.join(F.broadcast(bench_grams), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


def stream_span_screen(
    docs_stream: DataFrame, ref_grams: DataFrame, n: int = 4
) -> DataFrame:
    """Streaming SPAN-level contamination screen: for each arriving
    document, how much of it (which fraction of token positions) is
    covered by a word n-gram present in a STATIC reference gram index —
    the span-coverage upgrade of `stream_decontaminate`'s shared-gram
    COUNT, and the streaming twin of the batch `dup_span_profile`
    sweep. Emits (doc_id, n_tokens, dup_tokens, dup_frac) for documents
    with at least one matched gram.

    Encoding under streaming constraints: window functions are not
    allowed on streams, so positional n-grams are built ROW-LOCALLY
    with array HOFs (interpreted — acceptable per-document work; the
    corpus-scale batch path keeps the codegen'd window form), matched
    starts come back from a stateless broadcast stream-static join on
    the gram, and the per-doc interval-union is NOT a sorted window
    sweep but a row-local `aggregate` fold over the sorted start list
    — the ONE allowed streaming aggregation is the collect_list that
    gathers each doc's matched starts.

    ``ref_grams``: static one-column (g) DataFrame of distinct
    reference n-grams (benchmark set, or an existing corpus's
    duplicated-gram index from `_dup_gram_set`)."""
    from ..pipeline.text import tokens_col

    toks = tokens_col("text")
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            starts,
            lambda i: F.struct(
                (i - 1).cast("long").alias("pos"), gram(i).alias("g")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,g:string>>"))
    ex = spread_stream(docs_stream).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.explode(grams).alias("m"),
    ).select("doc_id", "n_tokens", F.col("m.pos").alias("pos"), F.col("m.g").alias("g"))
    hits = ex.join(F.broadcast(ref_grams), "g")
    agg = hits.groupBy("doc_id", "n_tokens").agg(
        F.sort_array(F.collect_list("pos")).alias("starts")
    )
    covered = F.aggregate(
        F.col("starts"),
        F.struct(
            F.lit(0).cast("long").alias("cov"),
            F.lit(-1).cast("long").alias("prev_e"),
        ),
        lambda acc, p: F.struct(
            (
                acc["cov"]
                + F.greatest(
                    F.lit(0).cast("long"),
                    p + n - F.greatest(p, acc["prev_e"]),
                )
            ).alias("cov"),
            F.greatest(acc["prev_e"], p + n).alias("prev_e"),
        ),
        lambda acc: acc["cov"],
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        covered.alias("dup_tokens"),
        (covered.cast("double") / F.col("n_tokens")).alias("dup_frac"),
    )


def stream_neardup_screen(
    docs_stream: DataFrame,
    static_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Streaming near-duplicate screen: incoming documents are checked
    against a STATIC corpus LSH index (continuous-ingest dedup — "is
    this new page a rewrite of something we already hold?").

    Per stream row, STATELESSLY: distinct word n-grams -> xxhash64
    shingle hashes (JVM-side) -> minhash signature via an Arrow-batched
    pandas_udf (numpy (a*h+b) mod p row-min over all permutations —
    the relational min-aggregate encoding used in batch needs a
    groupBy, and Spark allows only ONE streaming aggregation, spent
    below on candidate dedup; an array-HOF signature would run
    interpreted ~50x slower, the repo's standing measurement) -> band
    hashes -> stream-static equi-join on (band, bh) against
    `lsh_band_index(static_docs, with_shingles=True)` -> exact Jaccard
    verification from the two distinct-shingle sets, row-local (no
    aggregation) -> threshold filter. The single stateful operator is
    the final per-(doc, match) groupBy that collapses multi-band hits.

    Permutations/bands are identical to the batch `minhash_lsh_pairs`,
    so over finite input the verified output equals the symmetric
    exact-Jaccard pairs with the same near-certain LSH recall the
    batch oracle relies on.

    100 TB posture: candidate generation is a slim (band, bh) join; the
    verification payload (the candidate's shingle set) rides ONLY
    matched candidates, bounded per micro-batch — not the corpus. For
    very hot ingest you'd split verification into a batch job (the
    onepass roll-up); the screen itself stays stateless map-side work
    plus one bounded aggregation."""
    from pyspark.sql.functions import pandas_udf

    from ..pipeline.dedup import (
        _P31,
        _PERM_A,
        _PERM_B,
        LSH_BANDS,
        LSH_ROWS,
        lsh_band_index,
    )
    from ..pipeline.text import tokens_col, word_shingles

    A = np.asarray(_PERM_A, dtype=np.int64)[:, None]
    B = np.asarray(_PERM_B, dtype=np.int64)[:, None]

    @pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            hh = np.asarray(h, dtype=np.int64)[None, :]
            out.append(((A * hh + B) % _P31).min(axis=1))
        return pd.Series(out)

    # equivalent to filtering size(sh) > 0 AFTER shingling (shingles are
    # nonempty iff the doc has >= n tokens), but phrased on the raw
    # token count so the predicate that Catalyst pushes below the
    # spread_stream repartition is the cheap split+size, not a full
    # word_shingles evaluation on the unspread single-file partition
    # (measured: the pushed-down size(sh)>0 form re-ran the shingle
    # assembly serially and cost ~8s of this query at bench SF)
    s = spread_stream(
        docs_stream.filter(F.size(tokens_col("text")) >= F.lit(n))
    ).select("doc_id", word_shingles(tokens_col("text"), n).alias("sh"))
    hs = F.transform(F.col("sh"), lambda x: F.xxhash64(x).bitwiseAND(F.lit(_P31)))
    sig = s.select("doc_id", "sh", _sig(hs).alias("sig"))
    bb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"),
                    F.xxhash64(
                        *[F.col("sig")[j * LSH_ROWS + r] for r in range(LSH_ROWS)]
                    ).alias("bh"),
                )
                for j in range(LSH_BANDS)
            ]
        )
    )
    bands = sig.select("doc_id", "sh", bb.alias("bb")).select(
        "doc_id", "sh", "bb.band", "bb.bh"
    )
    idx = lsh_band_index(static_docs, n, with_shingles=True).select(
        F.col("doc_id").alias("match_id"),
        "band",
        "bh",
        F.col("sh").alias("match_sh"),
    )
    cand = bands.join(idx, ["band", "bh"]).filter(
        F.col("match_id") != F.col("doc_id")
    )
    inter = F.size(F.array_intersect("sh", "match_sh"))
    jac = inter.cast("double") / (
        F.size("sh") + F.size("match_sh") - inter
    )
    ver = cand.select(
        "doc_id", "match_id", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    return ver.groupBy("doc_id", "match_id").agg(
        F.max("jaccard").alias("jaccard")
    )


def run_available_now(sdf: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run a streaming DataFrame to completion over the available input
    (Trigger.AvailableNow) into a memory sink; return the batch result.
    Unique sink name per call — repeated runs in one session don't
    collide. The sink's temporary view is dropped before returning: the
    returned frame is already resolved to the sink's rows, so the
    session's catalog keeps nothing of the run."""
    import shutil
    import tempfile

    name = f"stream_out_{next(_RUN_COUNTER)}"
    spark = sdf.sparkSession
    # r15 (guide §6, VERDICT r14 item 9): the offset/commit logs and
    # HDFS-backed state-store deltas of even a two-batch AvailableNow
    # run are a dozen small fsync'd files; with no checkpointLocation
    # they land on java.io.tmpdir (ext4 on this box, with measured
    # 70-80ms fsync spikes). Point the throwaway checkpoint at a
    # memory-backed dir instead — SPARK_GRAFT_STREAM_CKPT overrides,
    # e.g. a durable path for a real deployment; checkpoint placement
    # never changes what a query computes, only where its WAL lives.
    ckpt_root = os.environ.get("SPARK_GRAFT_STREAM_CKPT")
    if ckpt_root is None and os.path.isdir("/dev/shm"):
        ckpt_root = "/dev/shm"
    # no root at all: the tempfile default dir
    ckpt_dir = tempfile.mkdtemp(prefix=f"dts_stream_ckpt_{name}_",
                                dir=ckpt_root or None)
    try:
        w = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt_dir)
        )
        # harness-only: the state store creates one store per shuffle
        # partition per operator; 32 partitions of near-empty state cost
        # ~6x wall overhead at test SF. Production sizes this to the real
        # key cardinality instead (and uses RocksDB + checkpoints). The
        # stream runs on a clone of the session taken inside start(), so
        # the caller's value is back as soon as start() returns.
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = w.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def tumbling_agg(
    events: DataFrame,
    size: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window aggregate with a watermark (late rows
    beyond `watermark` drop; state for closed windows evicts). Output
    keyed by the window start in epoch micros (engine-portable)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "event_type", "n", "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding (hopping) window counts: each event lands in size/slide
    overlapping windows, assigned by Spark's epoch-aligned windowing."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "n",
        )
    )


def session_agg(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-user session windows (merge events within `gap`); classic
    sessionization with state merging executor-side."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            "user_id", "n_events",
        )
    )


def session_agg_dynamic(
    events: DataFrame,
    gap_expr: Column,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-user sessions with a DYNAMIC per-event gap (Spark's
    session_window accepts a Column gap): each event extends its
    session to ts + gap(event), so e.g. purchases hold a session open
    longer than clicks. Same state-merge execution as the static-gap
    form; the break rule is ts >= running-max of previous events'
    (ts + gap) — the semantics the oracle encodes exactly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap_expr), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            "user_id", "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark: keys evict once the watermark passes,
    bounding state — exact dedup needs keys to recur within the
    horizon)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_with_static(events: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Stream-static join: the static dim is (re)broadcast per
    micro-batch; no state, no watermark required."""
    return events.join(F.broadcast(dim), on, "left")


def stream_asof_enrich(
    events: DataFrame,
    updates: DataFrame,
    key: str = "user_id",
    ts: str = "ts_us",
    valid_from: str = "valid_from",
    tiebreak: str = "upd_id",
) -> DataFrame:
    """Streaming AS-OF (roll=TRUE / LOCF) enrichment — the rolling join
    of SURVEY §2.3 (reference R/data.table.R roll=, src/bmerge.c
    backward roll) recast for a stream against a slowly-changing
    dimension. The batch `updates` table (key, valid_from, tiebreak,
    payload...) is INTERVALIZED once with a lead() window —
    [valid_from, next valid_from) per key, SCD-2 form — then each
    stream row joins the one interval covering its event time:
    an equi-join on key with the half-open range as residual
    condition, static side broadcast per micro-batch. STATELESS (no
    watermark, append mode) and exactly-one-match by construction
    (consecutive half-open intervals partition the timeline; duplicate
    valid_from per key yields an empty first interval, ties broken by
    ``tiebreak`` identically in any engine). Events before a key's
    first update keep NULL payload — data.table's rollends[1]=FALSE
    default.

    Scale: the window pass runs once on the dim (small by definition
    of a dimension); the stream side is a narrow broadcast-hash join
    per micro-batch — no state store, no shuffle of the stream."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(valid_from, tiebreak)
    iv = (
        updates.withColumn("_valid_to", F.lead(valid_from).over(w))
        .withColumnRenamed(key, "_iv_key")
        .drop(tiebreak)
    )
    cond = (
        (events[ts] >= iv[valid_from])
        & (iv["_valid_to"].isNull() | (events[ts] < iv["_valid_to"]))
        & (events[key] == iv["_iv_key"])
    )
    return events.join(F.broadcast(iv), cond, "left").drop(
        "_iv_key", valid_from, "_valid_to"
    )


def stateful_user_stats(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running stats (event count, value sum, distinct event types) kept in
    explicit state across micro-batches — the escape hatch for stateful
    logic Spark's built-in windows can't express (SURVEY §2.12).

    Emits the UPDATED state row per user per micro-batch; over finite
    input with Trigger.AvailableNow (one batch) that is exactly one row
    per user == the batch GROUP BY, which is the oracle. State is
    per-key and evictable via GroupStateTimeout in production."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, sum_value double,"
        " n_types bigint"
    )
    state_schema = "n bigint, s double, types array<string>"

    def fn(key, pdfs, state):
        import pandas as pd

        n, s, types = (
            state.get if state.exists else (0, 0.0, [])
        )
        types = set(types or [])
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
            types |= set(pdf["event_type"].dropna())
        state.update((n, s, sorted(types)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "n_types": [len(types)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def stateful_user_stats_tws(events: DataFrame) -> DataFrame:
    """Per-user running stats on Spark 4's transformWithStateInPandas —
    the successor to applyInPandasWithState (SURVEY §2.12): explicit
    typed state handles (ValueState here; the API adds ListState/
    MapState, event/processing-time timers, and state TTL that the old
    flatMapGroupsWithState surface lacks). Same semantics as
    stateful_user_stats, so the same batch GROUP BY is the oracle.

    Scale posture: state is per-key in the state store (RocksDB in
    production), partitioned by the shuffle on user_id; TTL/timers give
    bounded state without watermark gymnastics.

    ENVIRONMENT GATE: the transformWithState Python worker speaks a
    protobuf protocol to the JVM state server; without the `protobuf`
    package the streaming runner crashes at init. Probe up front and
    raise a clear error (this container lacks protobuf — the
    applyInPandasWithState path, `stateful_user_stats`, computes the
    identical result and is the oracle-checked one here)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "stateful_user_stats_tws needs the `protobuf` package"
            " (transformWithStateInPandas speaks protobuf to the JVM"
            " state server; PySpark 4.x pins protobuf==5.28.x in its"
            " connect/streaming extras — `pip install 'protobuf>=5.28'`"
            " in an environment that allows it); use"
            " stateful_user_stats (applyInPandasWithState) instead"
        ) from e
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("n_types", T.LongType()),
    ])

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n bigint, s double, types array<string>"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._state.exists():
                n, s, types = self._state.get()
            else:
                n, s, types = 0, 0.0, []
            types = set(types or [])
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].fillna(0.0).sum())
                types |= set(pdf["event_type"].dropna())
            self._state.update((n, s, sorted(types)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "n_types": [len(types)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_stream_join(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time range condition: each left
    event pairs with right events of the same user in the trailing
    `within` window. The time bound + watermarks let Spark evict both
    join-state buffers — the canonical bounded-state stream join.
    Output: (left_id, right_id, user_id).

    ``how="left_outer"``: unmatched LEFT rows additionally emit with a
    NULL right_id — but only once the event-time watermark passes the
    row's last possible match time, proving no future right row can
    pair with it (rows younger than the final watermark stay in state
    and emit nothing; over finite AvailableNow input the horizon is
    max(ts) - watermark delay). Right-outer is symmetric via swapped
    event types; full_outer composes both."""
    l = (
        events.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("left_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        events.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
        )
    )
    if how not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ValueError(f"bad how for stream-stream join: {how!r}")
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    # coalesce: outer rows carry whichever side exists (an unmatched
    # right row under right/full outer has only r_user)
    return l.join(r, cond, how).select(
        "left_id", "right_id",
        F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
    )

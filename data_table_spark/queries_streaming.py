"""Streaming query registrations (§2.12 extension).

Each query runs REAL Structured Streaming machinery (file stream source,
state store, event-time windows, Trigger.AvailableNow) into a memory
sink, then returns the materialized batch result. Over finite input the
unified-semantics contract says the result must equal the batch/DuckDB
answer — that is the correctness gate. Window keys are exported as epoch
micros (engine-portable: DuckDB's epoch_us on TIMESTAMP_NS floors to the
same integer the session derives at load).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import load_tables
from .exact import sql_dsum, sql_round
from .queries import query
from .streaming import (
    enrich_with_static,
    read_events_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    stream_dedup,
    tumbling_agg,
)

_US_HOUR = 3_600_000_000
_US_HALF_HOUR = 1_800_000_000
_US_5MIN = 300_000_000


@query(
    "stream_tumbling_agg",
    f"""
    SELECT (epoch_us(ts) // {_US_HOUR}) * {_US_HOUR} AS win_start_us,
           event_type, COUNT(*) AS n,
           {sql_dsum("value")} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark, sf_dir):
    """Tumbling 1h event-time windows with a 30m watermark, run through
    the streaming engine (AvailableNow) and compared to the batch
    answer."""
    s = read_events_stream(spark, sf_dir)
    return run_available_now(tumbling_agg(s, "1 hour", "30 minutes"))


@query(
    "stream_sliding_agg",
    f"""
    WITH e AS (SELECT epoch_us(ts) AS us FROM events),
    w AS (
      SELECT ((us // {_US_HALF_HOUR}) - k) * {_US_HALF_HOUR} AS win_start_us
      FROM e CROSS JOIN (SELECT unnest(range(2)) AS k)
    )
    SELECT win_start_us, COUNT(*) AS n FROM w GROUP BY 1
    """,
)
def q_stream_sliding(spark, sf_dir):
    """Sliding 1h windows hopping every 30m (each event in 2 windows,
    epoch-aligned starts)."""
    s = read_events_stream(spark, sf_dir)
    return run_available_now(sliding_agg(s, "1 hour", "30 minutes"))


@query(
    "stream_session_agg",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    l AS (SELECT user_id, us,
                 lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
          FROM e),
    f AS (SELECT user_id, us,
                 CASE WHEN prev IS NULL OR us - prev >= {_US_5MIN}
                      THEN 1 ELSE 0 END AS brk
          FROM l),
    s AS (SELECT user_id, us,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
          FROM f)
    SELECT MIN(us) AS session_start_us, user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_session(spark, sf_dir):
    """Per-user session windows (5m gap) via the streaming
    session_window state-merge; oracle is the batch gaps-and-islands
    sessionization (break at diff >= gap, matching Spark's exclusive
    window end)."""
    s = read_events_stream(spark, sf_dir)
    return run_available_now(session_agg(s, "5 minutes", "30 minutes"))


@query(
    "stream_session_dynamic",
    f"""
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    g AS (SELECT user_id, us,
            CASE WHEN event_type = 'purchase' THEN 600000000
                 WHEN event_type IN ('click', 'view') THEN 300000000
                 ELSE 120000000 END AS gap_us
          FROM e),
    m AS (SELECT user_id, us,
            MAX(us + gap_us) OVER (PARTITION BY user_id ORDER BY us
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS prev_end
          FROM g),
    f AS (SELECT user_id, us,
            CASE WHEN prev_end IS NULL OR us >= prev_end
                 THEN 1 ELSE 0 END AS brk
          FROM m),
    s AS (SELECT user_id, us,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM f)
    SELECT MIN(us) AS session_start_us, user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_session_dynamic(spark, sf_dir):
    """Session windows with a DYNAMIC per-event gap (purchases hold a
    session open 10 minutes, clicks/views 5, signups/errors 2).
    Spark merges transitively-overlapping [ts, ts+gap(event)) windows,
    which for time-sorted events is exactly 'break when ts >= the
    running max of previous (ts + gap)' — the oracle encodes that rule
    with the same exclusive end as the static-gap session oracle."""
    from .streaming import read_events_stream, run_available_now, session_agg_dynamic

    s = read_events_stream(spark, sf_dir)
    # session_window's dynamic gap needs CalendarIntervalType — ANSI
    # INTERVAL literals are DayTimeIntervalType and are rejected; a
    # STRING column of interval text is parsed to the right type
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("10 minutes"))
        .when(F.col("event_type").isin("click", "view"), F.lit("5 minutes"))
        .otherwise(F.lit("2 minutes"))
    )
    return run_available_now(
        session_agg_dynamic(s, gap, watermark="30 minutes")
    )


@query(
    "stream_dedup",
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Stateful dedup on event_id within a 1h watermark horizon
    (dropDuplicatesWithinWatermark); event_ids are unique so the result
    is the full stream — the check proves nothing is dropped or
    duplicated by the state machinery."""
    s = read_events_stream(spark, sf_dir)
    out = stream_dedup(s, "1 hour").select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )
    return run_available_now(out, output_mode="append")


@query(
    "stream_static_join",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_stream_static_join(spark, sf_dir):
    """Stream-static enrichment: the customer dim broadcasts per
    micro-batch; no state, append mode."""
    s = read_events_stream(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    dim = t["customer"].df.select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    out = enrich_with_static(
        s, dim, F.col("user_id") == F.col("c_custkey")
    ).select("event_id", "user_id", "segment")
    return run_available_now(out, output_mode="append")


@query(
    "stream_asof_enrich",
    """
    WITH upd AS (
      SELECT user_id, epoch_us(ts) AS valid_from, event_id AS upd_id,
             value AS status
      FROM events WHERE event_id % 97 = 0),
    iv AS (
      SELECT user_id, valid_from, status,
             LEAD(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, upd_id)
               AS valid_to
      FROM upd)
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, iv.status
    FROM events e LEFT JOIN iv
      ON e.user_id = iv.user_id
     AND epoch_us(e.ts) >= iv.valid_from
     AND (iv.valid_to IS NULL OR epoch_us(e.ts) < iv.valid_to)
    """,
)
def q_stream_asof_enrich(spark, sf_dir):
    """Streaming as-of (roll=TRUE / LOCF) enrichment: every event
    carries the latest 'profile update' (events with event_id % 97 ==
    0, value as the status payload) at-or-before its event time, NULL
    before a user's first update. The updates dim is intervalized
    batch-side (SCD-2) and the stream joins it STATELESSLY — no state
    store, append mode. The oracle is the identical intervalization in
    SQL, so exactly-one-interval-per-event is what the value-hash
    proves."""
    from .streaming import stream_asof_enrich

    s = read_events_stream(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    upd = (
        t["events"].df.filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("user_id"),
            F.col("ts_us").alias("valid_from"),
            F.col("event_id").alias("upd_id"),
            F.col("value").alias("status"),
        )
    )
    out = stream_asof_enrich(s, upd).select(
        "event_id", "user_id", "ts_us", "status"
    )
    return run_available_now(out, output_mode="append")


def _sql_stream_decontaminate() -> str:
    from .queries_pipeline import _SQL_DECONTAMINATE

    return _SQL_DECONTAMINATE


@query("stream_decontaminate", _sql_stream_decontaminate())
def q_stream_decontaminate(spark, sf_dir):
    """Streaming benchmark decontamination: the documents file stream is
    shingled statelessly, probed against the broadcast static benchmark
    4-gram set (doc_id % 53 == 0 split), and counted per doc in
    complete mode. Over finite input the result equals the batch
    `decontaminate_ngrams` answer — same oracle."""
    from .pipeline.dedup import shingle_rows
    from .streaming import (
        read_documents_stream,
        run_available_now,
        stream_decontaminate,
    )

    t = load_tables(spark, sf_dir)
    bench = t["documents"].df.filter(F.col("doc_id") % 53 == 0)
    bench_grams = shingle_rows(bench, 4).select("s").distinct()
    s = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 53 != 0
    )
    return run_available_now(stream_decontaminate(s, bench_grams, n=4))


_SQL_STREAM_SPAN = """
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +')
                         AS toks FROM documents),
    ref AS (
      SELECT DISTINCT g FROM (
        SELECT unnest([array_to_string(toks[i:i+3], ' ')
                       for i in range(1, len(toks) - 2)]) AS g
        FROM toks WHERE doc_id % 53 = 0 AND len(toks) >= 4)
    ),
    pg AS (
      SELECT doc_id, len(toks) AS nt,
             unnest(range(0, len(toks) - 3)) AS pos,
             unnest([array_to_string(toks[i:i+3], ' ')
                     for i in range(1, len(toks) - 2)]) AS g
      FROM toks WHERE doc_id % 53 <> 0 AND len(toks) >= 4
    ),
    m AS (SELECT doc_id, nt, pos FROM pg JOIN ref USING (g)),
    sw AS (
      SELECT doc_id, nt, pos,
             MAX(pos + 4) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_e
      FROM m),
    agg AS (
      SELECT doc_id, nt,
             SUM(GREATEST(0, (pos + 4)
                 - GREATEST(pos, COALESCE(prev_e, pos)))) AS dup_tokens
      FROM sw GROUP BY doc_id, nt)
    SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
           CAST(dup_tokens AS BIGINT) AS dup_tokens,
           CAST(dup_tokens AS DOUBLE) / nt AS dup_frac
    FROM agg
"""


@query("stream_span_screen", _SQL_STREAM_SPAN)
def q_stream_span_screen(spark, sf_dir):
    """Streaming span-level contamination screen: arriving docs
    (doc_id % 53 != 0) against the static reference 4-gram index
    (doc_id % 53 == 0). Positional grams are row-local array HOFs
    (windows are illegal on streams), the gram probe is a stateless
    broadcast stream-static join, and the interval union is a
    row-local fold over each doc's sorted matched starts — one
    streaming aggregation (the collect_list). Over finite input the
    answer equals the batch window-sweep form — the oracle computes
    that directly."""
    from .pipeline.dedup import shingle_rows
    from .streaming import (
        read_documents_stream,
        run_available_now,
        stream_span_screen,
    )

    t = load_tables(spark, sf_dir)
    ref_docs = t["documents"].df.filter(F.col("doc_id") % 53 == 0)
    ref = shingle_rows(ref_docs, 4).select(F.col("s").alias("g")).distinct()
    s = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 53 != 0
    )
    return run_available_now(stream_span_screen(s, ref, n=4))


@query(
    "stream_stateful_stats",
    f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_round("SUM(value)", 4)} AS sum_value,
           COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful(spark, sf_dir):
    """applyInPandasWithState custom stateful operator: per-user running
    stats held in explicit per-key state. One AvailableNow batch emits
    the final state per user == the batch GROUP BY oracle. sum_value
    rounds to 4dp on both sides (pandas sums in a different order than
    the SQL aggregate)."""
    from .streaming import read_events_stream, run_available_now, stateful_user_stats

    s = read_events_stream(spark, sf_dir)
    out = stateful_user_stats(s)
    res = run_available_now(out, output_mode="update")
    return res.withColumn("sum_value", F.round("sum_value", 4))


# NOTE: a transformWithStateInPandas twin of stream_stateful_stats
# exists (`streaming.stateful_user_stats_tws` — Spark 4 typed-state
# API with timers/TTL) but is NOT registered as a driver query: its
# Python worker requires the `protobuf` package, absent from this
# container, so it is environment-gated with an explicit probe and a
# skipping test (tests/test_queries_oracle.py::test_stateful_tws)
# instead of a permanently-red registry row.


@query(
    "stream_stream_join",
    """
    SELECT p.event_id AS left_id, c.event_id AS right_id, p.user_id
    FROM events p JOIN events c ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
      AND epoch_us(c.ts) <= epoch_us(p.ts)
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join (purchases x trailing-hour clicks per
    user) with watermark-bounded state on both sides; AvailableNow over
    finite input must equal the batch range join."""
    from .streaming import read_events_stream, run_available_now, stream_stream_join

    s = read_events_stream(spark, sf_dir)
    out = stream_stream_join(s, "purchase", "click", "1 hour", "2 hours")
    return run_available_now(out, output_mode="append")


@query(
    "stream_stream_left_join",
    """
    WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, epoch_us(ts) AS ts
               FROM events WHERE event_type = 'click'),
         wm AS (SELECT LEAST((SELECT MAX(ts) FROM p),
                             (SELECT MAX(ts) FROM c))
                       - 7200000000 AS w),
         m AS (SELECT p.event_id AS left_id, c.event_id AS right_id,
                      p.user_id
               FROM p JOIN c ON p.user_id = c.user_id
                AND c.ts >= p.ts - 3600000000 AND c.ts <= p.ts)
    SELECT left_id, right_id, user_id FROM m
    UNION ALL
    SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id
    FROM p
    WHERE p.event_id NOT IN (SELECT left_id FROM m)
      AND p.ts < (SELECT w FROM wm)
    """,
)
def q_stream_stream_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER join with watermark-gated null emission:
    matched pairs stream out as in the inner join; an unmatched left
    row emits (left_id, NULL) only once the event-time watermark proves
    no future right row can pair with it. The oracle encodes Spark's
    multi-watermark policy EXACTLY: the effective watermark is the MIN
    over both withWatermark branches of (branch max event time - 2h) —
    measured boundary-exact at sf0.01 (1,942 null rows; a global-max
    watermark would wrongly predict 1,943). Left rows younger than the
    final watermark stay in state and emit nothing over finite
    AvailableNow input, exactly as a live stream would hold them."""
    from .streaming import (
        read_events_stream, run_available_now, stream_stream_join,
    )

    s = read_events_stream(spark, sf_dir)
    out = stream_stream_join(
        s, "purchase", "click", "1 hour", "2 hours", how="left_outer"
    )
    return run_available_now(out, output_mode="append")


@query(
    "stream_stream_right_join",
    """
    WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, epoch_us(ts) AS ts
               FROM events WHERE event_type = 'click'),
         wm AS (SELECT LEAST((SELECT MAX(ts) FROM p),
                             (SELECT MAX(ts) FROM c))
                       - 7200000000 AS w),
         m AS (SELECT p.event_id AS left_id, c.event_id AS right_id,
                      p.user_id
               FROM p JOIN c ON p.user_id = c.user_id
                AND c.ts >= p.ts - 3600000000 AND c.ts <= p.ts)
    SELECT left_id, right_id, user_id FROM m
    UNION ALL
    SELECT CAST(NULL AS BIGINT), c.event_id, c.user_id
    FROM c
    WHERE c.event_id NOT IN (SELECT right_id FROM m)
      AND c.ts + 3600000000 < (SELECT w FROM wm)
    """,
)
def q_stream_stream_right_join(spark, sf_dir):
    """Stream-stream RIGHT OUTER join — completes the outer-join matrix
    (inner/left/full already registered). Unmatched right (click) rows
    emit (NULL, right_id) once the watermark passes their eviction
    horizon r_ts + 1h: under the range condition r_ts in [l_ts - 1h,
    l_ts] a click can still match purchases up to an hour AFTER it, so
    its null must wait past that window. Same min-branch watermark
    policy as the left/full oracles."""
    from .streaming import (
        read_events_stream, run_available_now, stream_stream_join,
    )

    s = read_events_stream(spark, sf_dir)
    out = stream_stream_join(
        s, "purchase", "click", "1 hour", "2 hours", how="right_outer"
    )
    return run_available_now(out, output_mode="append")


@query(
    "stream_stream_full_join",
    """
    WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, epoch_us(ts) AS ts
               FROM events WHERE event_type = 'click'),
         wm AS (SELECT LEAST((SELECT MAX(ts) FROM p),
                             (SELECT MAX(ts) FROM c))
                       - 7200000000 AS w),
         m AS (SELECT p.event_id AS left_id, c.event_id AS right_id,
                      p.user_id
               FROM p JOIN c ON p.user_id = c.user_id
                AND c.ts >= p.ts - 3600000000 AND c.ts <= p.ts)
    SELECT left_id, right_id, user_id FROM m
    UNION ALL
    SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id
    FROM p
    WHERE p.event_id NOT IN (SELECT left_id FROM m)
      AND p.ts < (SELECT w FROM wm)
    UNION ALL
    SELECT CAST(NULL AS BIGINT), c.event_id, c.user_id
    FROM c
    WHERE c.event_id NOT IN (SELECT right_id FROM m)
      AND c.ts + 3600000000 < (SELECT w FROM wm)
    """,
)
def q_stream_stream_full_join(spark, sf_dir):
    """Stream-stream FULL OUTER join: both sides' unmatched rows emit
    NULL partners, each gated by its own eviction horizon derived from
    the range condition (r_ts in [l_ts - 1h, l_ts]). A left row can
    match no FUTURE right row once watermark > l_ts (horizon w); a
    right row can still match left rows up to r_ts + 1h, so its null
    emits only when r_ts + 1h < w. Both horizons verified boundary-
    exact against the stream at sf0.01 (1,942 left-nulls, 1,966
    right-nulls; w = min-branch watermark as in the left-join oracle).
    user_id is coalesced from whichever side exists."""
    from .streaming import (
        read_events_stream, run_available_now, stream_stream_join,
    )

    s = read_events_stream(spark, sf_dir)
    out = stream_stream_join(
        s, "purchase", "click", "1 hour", "2 hours", how="full_outer"
    )
    return run_available_now(out, output_mode="append")


_SQL_STREAM_NEARDUP = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                              for i in range(1, len(toks)-1)])
             ELSE [] END AS shingles
      FROM toks),
    sz AS (SELECT doc_id, shingles, len(shingles) AS sz FROM sh),
    ex AS (SELECT doc_id, sz, unnest(shingles) AS s FROM sz),
    p AS (
      SELECT a.doc_id AS doc_id, b.doc_id AS match_id,
             a.sz AS sa, b.sz AS sb, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, match_id,
           CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard
    FROM p
    WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.8
"""


@query("stream_neardup_screen", _SQL_STREAM_NEARDUP)
def q_stream_neardup_screen(spark, sf_dir):
    """Streaming near-duplicate screen: the documents file stream is
    minhash-banded statelessly (Arrow-batched signature UDF — the one
    streaming aggregation is spent on candidate dedup), joined
    stream-static against the batch LSH band index, and exact-Jaccard
    verified row-locally. Over finite input this equals the SYMMETRIC
    exact-Jaccard >= 0.8 pairs (both orientations, self excluded) with
    the same near-certain LSH recall the batch minhash oracle relies
    on."""
    from .streaming import (
        read_documents_stream,
        run_available_now,
        stream_neardup_screen,
    )

    t = load_tables(spark, sf_dir)
    s = read_documents_stream(spark, sf_dir)
    out = stream_neardup_screen(s, t["documents"].df, n=3, threshold=0.8)
    return run_available_now(out)
